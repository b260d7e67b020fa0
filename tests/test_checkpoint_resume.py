"""Checkpoint resume semantics: a restarted query must pick up where
the checkpoint left off — no reprocessing, no duplicates in an
exactly-once file sink (SURVEY §2e #28)."""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from mvrs_dspa_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    checkpoint_package,
    is_local_session,
)
from mvrs_dspa_spark.streaming import sources

SCHEMA = "id long, v double"


def _write(spark, path, lo, hi):
    spark.createDataFrame(
        [(i, float(i)) for i in range(lo, hi)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(path)


def test_restart_from_checkpoint_no_duplicates(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # run 1: only rows [0, 50) exist
    _write(spark, src, 0, 50)
    stream = sources.read_stream(spark, src, "parquet", SCHEMA)
    q1 = sources.parquet_sink(stream, out, ckpt)
    assert q1.awaitTermination(120)
    assert spark.read.parquet(out).count() == 50

    # run 2: new rows land, a NEW query resumes from the same checkpoint
    _write(spark, src, 50, 80)
    stream2 = sources.read_stream(spark, src, "parquet", SCHEMA)
    q2 = sources.parquet_sink(stream2, out, ckpt)
    assert q2.awaitTermination(120)

    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == list(range(80)), "resume must add only new rows, exactly once"


# --- checkpoint manager and crash replay of the stateful job ----------------

def test_local_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    """The manager Spark itself builds for a checkpoint path, not the conf."""
    jvm = spark.sparkContext._jvm
    pkg = checkpoint_package(spark)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fm = getattr(jvm, pkg).CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), conf
    )
    assert fm.getClass().getName() == f"{pkg}.FileSystemBasedCheckpointFileManager"


def test_checkpoint_package_skips_packages_without_the_managers(spark, monkeypatch):
    """Spark 3.5/4.0 lack the 4.1 `checkpointing` package; the lookup
    must fall through to the next candidate, not pick a bare package."""
    from mvrs_dspa_spark import session

    real = checkpoint_package(spark)
    monkeypatch.setattr(session, "_CHECKPOINT_PACKAGES", ("org.apache.spark.nope", real))
    assert checkpoint_package(spark) == real


def test_is_local_session_needs_local_master_and_file_fs():
    assert is_local_session("local[4]", "file:///")
    assert not is_local_session("spark://master:7077", "file:///")
    assert not is_local_session("yarn", "hdfs://nn:8020")
    assert not is_local_session("local[4]", "hdfs://nn:8020")


def _stage_backlog(path, n_files=6, per_file=150, seed=3):
    """In-order events, four event-time hours per file, so the watermark
    closes windows as files arrive and no event is late."""
    from mvrs_dspa_spark.streaming.windowed import EVENT_TYPES

    rng = random.Random(seed)
    hour_us = 3_600_000_000
    t0 = 1_704_067_200_000_000  # 2024-01-01T00:00Z
    os.makedirs(path)
    files, now = [], time.time()
    for f in range(n_files):
        ts = sorted(t0 + f * 4 * hour_us + rng.randrange(4 * hour_us)
                    for _ in range(per_file))
        tbl = pa.table({
            "event_id": pa.array(range(f * per_file, (f + 1) * per_file), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([rng.randrange(12) for _ in ts], pa.int64()),
            "event_type": [rng.choice(EVENT_TYPES) for _ in ts],
            "value": [round(rng.uniform(0, 100), 2) for _ in ts],
            "props": ["{}"] * per_file,
        })
        out = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(tbl, out)
        # the file source replays oldest-modified first
        os.utime(out, (now - 100 + f, now - 100 + f))
        files.append(out)
    return files


def _drain(spark, src, out, ckpt):
    """One availableNow drain of `src`, a file per micro-batch; returns
    the progress of every batch it ran."""
    from mvrs_dspa_spark.streaming.jobs import active_post_stats_job
    from mvrs_dspa_spark.streaming.synthetic_source import SCHEMA_DDL

    stream = (spark.readStream.schema(SCHEMA_DDL)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = active_post_stats_job(stream, out, ckpt, watermark="30 minutes")
    assert q.awaitTermination(180), "drain did not finish"
    assert q.exception() is None
    return [json.loads(p.json) for p in q.recentProgress]


def _sink_rows(spark, out):
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


def test_stateful_job_replays_batch_after_crash(spark, tmp_path):
    """A crash after the sink commit but before the commit-log write:
    the restarted query re-runs that batch from its offset-log entry,
    the state store re-commits its version, and the file sink skips the
    batch its `_spark_metadata` log already holds. The first leg runs on
    the FileContext checkpoint manager, the second on the session
    default, so the checkpoint must also carry across managers."""
    files = _stage_backlog(str(tmp_path / "backlog"))
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    for f in files[:3]:
        shutil.copy2(f, src)

    old = spark.conf.get(CHECKPOINT_MANAGER_KEY, None)
    spark.conf.set(CHECKPOINT_MANAGER_KEY,
                   f"{checkpoint_package(spark)}.FileContextBasedCheckpointFileManager")
    try:
        leg1 = _drain(spark, src, out, ckpt)
    finally:
        if old is None:
            spark.conf.unset(CHECKPOINT_MANAGER_KEY)
        else:
            spark.conf.set(CHECKPOINT_MANAGER_KEY, old)

    # crash: the sink and state committed the newest batch, its commit did not
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(os.path.join(out, "_spark_metadata", str(last))) as f:
        assert sum('"add"' in line for line in f) > 0, "replayed batch must have sink output"

    for f in files[3:]:
        shutil.copy2(f, src)
    leg2 = _drain(spark, src, out, ckpt)
    assert leg2[0]["batchId"] == last, "restart must replay the uncommitted batch"

    ref = str(tmp_path / "ref")
    _drain(spark, src, ref, str(tmp_path / "ref_ckpt"))

    got = _sink_rows(spark, out)
    assert got == _sink_rows(spark, ref), "crash + replay must equal one clean run"
    keys = spark.read.parquet(out).groupBy("window_start", "user_id").count()
    assert keys.where("count > 1").count() == 0
    dropped = sum(op["numRowsDroppedByWatermark"]
                  for p in leg1 + leg2 for op in p["stateOperators"])
    assert dropped == 0
