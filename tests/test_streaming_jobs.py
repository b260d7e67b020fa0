"""End-to-end streaming jobs over replayed sf0.001 events (reference
jobs/ parity: activeposts, recommendations, clustering)."""

from __future__ import annotations

import re

from mvrs_dspa_spark.streaming.jobs import (
    active_post_stats_job,
    recommendations_job,
    unusual_activity_job,
)
from mvrs_dspa_spark.streaming.kmeans import StreamingKMeansModel
from mvrs_dspa_spark.streaming.replay import read_replay_stream, write_replay_batches
from mvrs_dspa_spark.tables import table


def _replayed_events(spark, sf_small, tmp_path, n=400):
    ev = table(spark, sf_small, "events").limit(n)
    out = str(tmp_path / "replay")
    write_replay_batches(ev, out, n_batches=3, speedup=10_000.0)
    return read_replay_stream(spark, out, ev.schema)

def test_active_post_stats_job(spark, sf_small, tmp_path):
    stream = _replayed_events(spark, sf_small, tmp_path)
    q = active_post_stats_job(
        stream,
        sink_path=str(tmp_path / "stats_out"),
        checkpoint=str(tmp_path / "stats_ckpt"),
        watermark="1 hour",
    )
    assert q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "stats_out"))
    assert out.count() > 0
    cols = set(out.columns)
    assert {"window_start", "window_end", "user_id", "n_events"} <= cols


def test_recommendations_job(spark, sf_small, tmp_path):
    stream = _replayed_events(spark, sf_small, tmp_path)
    batches: list[tuple[int, list]] = []
    plans: list[str] = []

    def sink(df, batch_id):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        batches.append((batch_id, df.collect()))

    q = recommendations_job(stream, sink, str(tmp_path / "rec_ckpt"))
    assert q.awaitTermination(300)
    assert len(batches) >= 2  # one result set per non-empty micro-batch
    # both recommendation directions come from one scoring pass
    for plan in plans:
        assert len(re.findall(r"Join \[band#", plan)) == 1, plan
    rows = [r for _, rs in batches for r in rs]
    assert rows, "no recommendations produced"
    for r in rows:
        assert r.user_id != r.rec_user_id
        assert r.est_sim >= 0.1
    # top-N bound per user within a batch
    for _, rs in batches:
        counts: dict = {}
        for r in rs:
            counts[r.user_id] = counts.get(r.user_id, 0) + 1
        assert all(c <= 5 for c in counts.values())


def test_recommendations_job_matches_duckdb(spark, sf_small, tmp_path):
    """Each batch's recommendations equal the registered DuckDB mirror
    (signature_sql + candidate_pairs_sql + est_similarity_sql, top-5
    at est_sim >= 0.1) over the items accumulated so far, restricted
    to the users with items in that batch."""
    import glob

    import duckdb

    from mvrs_dspa_spark.operators.similarity import _ITEMS_SQL
    from mvrs_dspa_spark.plans.registry import all_queries

    ev = table(spark, sf_small, "events").limit(400)
    paths = write_replay_batches(
        ev, str(tmp_path / "replay"), n_batches=3, speedup=10_000.0
    )
    stream = read_replay_stream(spark, str(tmp_path / "replay"), ev.schema)
    got: dict[int, list] = {}

    def sink(df, batch_id):
        got[batch_id] = sorted(
            (r.user_id, r.rec_user_id, r.est_sim) for r in df.collect()
        )

    q = recommendations_job(stream, sink, str(tmp_path / "rec_ckpt"))
    assert q.awaitTermination(300)
    assert sorted(got) == list(range(len(paths)))

    oracle = all_queries()["similar_users_minhash_lsh"].oracle
    files = [glob.glob(f"{p}/*.parquet") for p in paths]
    conn = duckdb.connect()
    try:
        for b in range(len(paths)):
            conn.execute(
                f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet({files[b]})"
            )
            active = {r[0] for r in conn.execute(_ITEMS_SQL).fetchall()}
            seen = [f for fs in files[: b + 1] for f in fs]
            conn.execute(
                f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet({seen})"
            )
            want = sorted(
                r for r in conn.execute(oracle).fetchall() if r[0] in active
            )
            assert got[b] == want, b
    finally:
        conn.close()
    assert any(got.values()), "no recommendations produced"


def test_unusual_activity_job(spark, sf_small, tmp_path):
    stream = _replayed_events(spark, sf_small, tmp_path)
    model = StreamingKMeansModel(
        centroids=[[0.1, 0.1, 0.1], [0.5, 0.5, 0.5], [0.9, 0.9, 0.9]], decay=0.7
    )
    q = unusual_activity_job(stream, model, str(tmp_path / "ua_ckpt"))
    assert q.awaitTermination(180)
    assert model.batches_seen >= 2
    assert sum(model.weights) > 0
    # classify the latest batch's events against the evolved model
    from mvrs_dspa_spark.streaming.jobs import _event_features

    feats = _event_features(table(spark, sf_small, "events").limit(100))
    assigned = model.assign(feats, "features")
    rows = assigned.collect()
    assert len(rows) == 100
    assert {r.cluster for r in rows} <= {0, 1, 2}


def test_active_post_stats_job_enriched(spark, sf_small, tmp_path):
    from pyspark.sql import functions as F

    from mvrs_dspa_spark.streaming.jobs import enrich_post_stats

    stream = _replayed_events(spark, sf_small, tmp_path)
    # dimension: user metadata for SOME users, so the '<unknown>' default
    # path is exercised (reference emits "<unknown content>" on miss)
    ev = table(spark, sf_small, "events").limit(400)
    dim = (
        ev.select("user_id").distinct()
        .where(F.col("user_id") % 2 == 0)
        .withColumn("user_name", F.concat(F.lit("user-"), F.col("user_id")))
    )
    q = active_post_stats_job(
        stream,
        sink_path=str(tmp_path / "enr_out"),
        checkpoint=str(tmp_path / "enr_ckpt"),
        watermark="1 hour",
        dim=dim,
        dim_defaults={"user_name": "<unknown user>"},
    )
    assert q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "enr_out"))
    rows = out.collect()
    assert rows
    assert "user_name" in out.columns
    for r in rows:
        if r.user_id % 2 == 0:
            assert r.user_name == f"user-{r.user_id}"
        else:
            assert r.user_name == "<unknown user>"

    # the enrichment join must broadcast the dimension side (batch-plan
    # check of the exact join enrich_post_stats builds)
    stats_sample = out.drop("user_name")
    plan = (
        enrich_post_stats(stats_sample, dim, defaults={"user_name": "x"})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
