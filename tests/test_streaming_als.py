"""Streaming ALS fold-in must match a batch solve over the same
interactions against the same frozen item factors, and its serving
join must honor seen-exclusion."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.mlmodels import _gramian, _solve_side
from mvrs_dspa_spark.streaming.als_stream import (
    AlsFoldInServer,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.streaming.replay import (
    read_replay_stream,
    write_replay_batches,
)
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _interactions(spark):
    from pyspark.sql import Window

    orders = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    w = Window.orderBy("l_orderkey", "l_partkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
            F.row_number().over(w).alias("event_id"),
        )
        .withColumn(
            "ts",
            F.timestamp_micros(F.col("event_id").cast("long") * 1_000_000),
        )
    )


def _frozen_items(spark):
    """Deterministic small item-factor model (the batch fit's init
    column would work too; any frozen Y exercises the fold-in)."""
    from mvrs_dspa_spark.operators.mlmodels import _init_factor, ALS_K

    parts = (
        table(spark, SF, "lineitem")
        .select(F.col("l_partkey").alias("partkey"))
        .distinct()
        .collect()
    )
    return spark.createDataFrame(
        [
            (int(r.partkey), [_init_factor(int(r.partkey), d) + 0.05 * d
                              for d in range(ALS_K)])
            for r in parts
        ],
        "partkey long, fac array<double>",
    )


def test_fold_in_equals_batch_solve(spark, tmp_path):
    inter_ev = _interactions(spark).orderBy("event_id").limit(600)
    items = _frozen_items(spark)

    server = AlsFoldInServer(spark, items)
    rows = inter_ev.collect()
    step = 150
    for i in range(0, len(rows), step):
        server.update(
            spark.createDataFrame(rows[i : i + step], inter_ev.schema), i
        )
    assert server.n_batches == 4

    # batch reference: one solve over ALL accumulated interactions
    full = inter_ev.groupBy("custkey", "partkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    want = {
        r.custkey: list(r.fac)
        for r in _solve_side(
            full, items, "custkey", "partkey", _gramian(items)
        ).collect()
    }
    got = {r.custkey: list(r.fac) for r in server.factors.collect()}
    assert set(got) == set(want)
    for u in want:
        assert np.allclose(want[u], got[u], rtol=1e-9, atol=1e-12), u


def test_fold_in_via_stream_and_serving(spark, tmp_path):
    inter_ev = _interactions(spark).orderBy("event_id").limit(400)
    items = _frozen_items(spark)
    replay_dir = str(tmp_path / "replay")
    write_replay_batches(inter_ev, replay_dir, n_batches=3)
    src = read_replay_stream(spark, replay_dir, inter_ev.schema)
    server = AlsFoldInServer(src.sparkSession, items)
    drain(src, str(tmp_path / "ckpt"), server.update)
    assert server.n_batches >= 1

    recs = server.recommend(n=3).collect()
    assert recs, "no recommendations served"
    seen = {
        (r.custkey, r.partkey)
        for r in server.inter.select("custkey", "partkey").collect()
    }
    by_user = {}
    for r in recs:
        by_user.setdefault(r.custkey, []).append(r)
        assert (r.custkey, r.partkey) not in seen
    for u, urows in by_user.items():
        ranks = sorted(r.rank for r in urows)
        assert ranks == list(range(1, len(ranks) + 1))


def test_fold_in_only_resolves_touched_users(spark):
    inter_ev = _interactions(spark).orderBy("event_id").limit(200)
    items = _frozen_items(spark)
    rows = inter_ev.collect()
    server = AlsFoldInServer(spark, items)
    server.update(spark.createDataFrame(rows[:100], inter_ev.schema), 0)
    before = {r.custkey: tuple(r.fac) for r in server.factors.collect()}
    second = [r for r in rows[100:] if r.custkey not in before]
    if not second:  # every user already active; nothing to isolate
        return
    server.update(spark.createDataFrame(second, inter_ev.schema), 1)
    after = {r.custkey: tuple(r.fac) for r in server.factors.collect()}
    for u, fac in before.items():
        assert after[u] == fac, f"untouched user {u} was re-solved differently"


def test_fold_in_erasure_drops_customer(spark):
    """The fold-in state is per customer, so erasure drops the
    customer's interactions and factor vector and nobody else's."""
    inter_ev = _interactions(spark).orderBy("event_id").limit(100)
    server = AlsFoldInServer(spark, _frozen_items(spark))
    server.update(inter_ev, 0)
    users = sorted(r.custkey for r in server.factors.collect())
    assert len(users) >= 2
    server.erase_users([users[0]])
    for frame in (server.inter, server.factors):
        left = {r.custkey for r in frame.select("custkey").collect()}
        assert users[0] not in left
        assert users[1] in left
