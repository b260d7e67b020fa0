"""Streaming MinHash near-dup detection: batch/stream equivalence,
arrival-order semantics, bucket state cap, and zero-shingle guard."""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from mvrs_dspa_spark.streaming.dedup_stream import (
    batch_reference_near_dup,
    streaming_near_dup,
)

DOC_SCHEMA = "doc_id long, ts timestamp, text string"


def _t(m: int) -> datetime:
    return datetime(2026, 2, 1, 9, m, tzinfo=timezone.utc)


WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _doc(i: int, mutate: int = 0) -> str:
    toks = list(WORDS) * 3
    for j in range(mutate):
        toks[j * 3 + 1] = f"mut{i}_{j}"
    return " ".join(toks)


DOCS = [
    (1, _t(0), _doc(1)),                # base
    (2, _t(1), _doc(2, mutate=1)),      # near-dup of 1
    (3, _t(2), " ".join(sorted(set(WORDS))) + " unrelated xxx yyy zzz"),
    (4, _t(3), _doc(4, mutate=2)),      # near-dup of 1 and 2
    (5, _t(4), "completely different content about streaming joins"),
    (6, _t(5), _doc(6)),                # exact dup of 1
    (7, _t(6), ""),                     # zero shingles: must be ignored
    (8, _t(7), "completely different content about streaming joins"),
]


def _write_batches(spark, tmp_path, rows, n_files):
    root = str(tmp_path / "docs_in")
    os.makedirs(root, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            continue
        df = spark.createDataFrame(chunk, DOC_SCHEMA)
        path = os.path.join(root, f"b{i:03d}")
        df.coalesce(1).write.parquet(path)
        ts = time.time() + i * 10
        for dirpath, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(dirpath, f), (ts, ts))
    return os.path.join(root, "b*")


_QUERY_SEQ = [0]


def _run_stream(spark, tmp_path, rows, n_files, **kw):
    os.makedirs(str(tmp_path), exist_ok=True)
    glob = _write_batches(spark, tmp_path, rows, n_files)
    src = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
    )
    out = streaming_near_dup(src, **kw)
    _QUERY_SEQ[0] += 1
    name = f"dedup_out_{_QUERY_SEQ[0]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    pairs = (
        spark.table(name)
        .groupBy("doc_id", "dup_of")
        .agg(F.max("est_sim").alias("est_sim"))
        .collect()
    )
    return {(r["doc_id"], r["dup_of"]): r["est_sim"] for r in pairs}


def _batch_pairs(spark, rows):
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    return {
        (r["doc_id"], r["dup_of"]): r["est_sim"]
        for r in batch_reference_near_dup(df).collect()
    }


@pytest.mark.slow  # >10 s: slow tier, run with -m slow
def test_stream_matches_batch_reference_multi_batch(spark, tmp_path):
    got = _run_stream(spark, tmp_path, DOCS, n_files=4)
    want = _batch_pairs(spark, DOCS)
    assert got == want
    # sanity on the fixture itself: the built near-dups are found,
    # dup_of is always the EARLIER doc, exact dup scores 1.0
    assert (6, 1) in want and want[(6, 1)] == 1.0
    assert (2, 1) in want
    assert (8, 5) in want and want[(8, 5)] == 1.0
    assert all(d > o for d, o in want)
    assert 7 not in {d for d, _ in want} and 7 not in {o for _, o in want}


@pytest.mark.slow  # >10 s: slow tier, run with -m slow
def test_single_batch_equals_multi_batch(spark, tmp_path):
    one = _run_stream(spark, tmp_path / "one", DOCS, n_files=1)
    many = _run_stream(spark, tmp_path / "many", DOCS, n_files=8)
    assert one == many


def test_bucket_cap_bounds_state_not_correctness_of_early_docs(
    spark, tmp_path
):
    # cap 1: each bucket retains only its first occupant. Matches
    # against first occupants (docs 1, 2) survive; the capped result
    # is a subset of the uncapped reference; pairs against doc 1 (the
    # first occupant of every bucket it touches) are all retained.
    got = _run_stream(spark, tmp_path, DOCS, n_files=2, max_bucket_docs=1)
    want = _batch_pairs(spark, DOCS)
    assert set(got) <= set(want)
    assert (2, 1) in got
    assert (4, 1) in got
    assert (6, 1) in got


def test_threshold_filters_weak_pairs(spark, tmp_path):
    got = _run_stream(spark, tmp_path, DOCS, n_files=2, threshold=0.99)
    # only the exact duplicates survive a 0.99 threshold
    assert set(got) == {(6, 1), (8, 5)}


@pytest.mark.slow  # >10 s: slow tier, run with -m slow
def test_event_time_ttl_expires_stored_docs(spark, tmp_path):
    """With a 1-hour state TTL, a duplicate arriving after the
    watermark passes the original's ts + TTL is NOT attributed (the
    original expired from bucket state); without the TTL it is."""
    rows = [
        (1, _t(0), _doc(1)),                      # 9:00 original
        (50, datetime(2026, 2, 1, 12, 0, tzinfo=timezone.utc),
         "watermark driver completely different"),  # advances wm to ~11:50
        (60, datetime(2026, 2, 1, 12, 1, tzinfo=timezone.utc), _doc(60)),
    ]
    with_ttl = _run_stream(
        spark, tmp_path / "ttl", rows, n_files=3, state_ttl="1 hour"
    )
    assert (60, 1) not in with_ttl
    without = _run_stream(spark, tmp_path / "nottl", rows, n_files=3)
    assert (60, 1) in without
