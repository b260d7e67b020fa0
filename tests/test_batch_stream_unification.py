"""One definition, two execution modes: the SAME windowed-count
DataFrame function must agree between batch execution (withWatermark
is a no-op, all windows computed) and streaming execution (windows
emitted only when finalized by the watermark). Every window the
stream emits must match the batch row exactly; windows the stream
hasn't finalized are the only permissible difference."""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from mvrs_dspa_spark.streaming.trending import windowed_key_counts

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _t(h: int, m: int = 0) -> datetime:
    return datetime(2026, 3, 1, h, m, tzinfo=timezone.utc)


def test_same_definition_batch_and_stream_agree(spark, tmp_path):
    rows = [
        (i, _t(8 + (i % 3), (7 * i) % 60), i % 5, ["click", "view", "error"][i % 3], float(i % 7))
        for i in range(200)
    ]
    rows.append((999, _t(15, 0), 1, "signup", 1.0))  # watermark driver

    src_dir = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).coalesce(2).write.parquet(src_dir)

    batch = windowed_key_counts(
        spark.read.parquet(src_dir), key="event_type", size="1 hour"
    )
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }

    stream = windowed_key_counts(
        spark.readStream.schema(SCHEMA).parquet(src_dir),
        key="event_type",
        size="1 hour",
        watermark_delay="30 minutes",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("unify")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM unify").collect()
    }

    assert stream_rows, "stream emitted nothing"
    # every finalized streaming window matches batch exactly
    for k, v in stream_rows.items():
        assert batch_rows[k] == v, (k, v, batch_rows.get(k))
    # the only batch rows missing from the stream are unfinalized
    # windows: 1-hour window [ws, ws+1h) is unfinalized iff its end is
    # past the final watermark (max ts 15:00 - 30 min delay = 14:30),
    # i.e. ws > 13:30
    from datetime import timedelta

    wm = _t(14, 30).replace(tzinfo=None)
    for (ws, et) in set(batch_rows) - set(stream_rows):
        assert ws + timedelta(hours=1) > wm, (ws, et)


def test_streaming_curation_matches_batch_semantics(spark, tmp_path):
    """The curation job keeps exactly the docs the BATCH definitions
    would keep: quality_score >= threshold (doc_quality expressions)
    and first occurrence per normalized text (dedup_exact key) — with
    the streaming run split across micro-batches."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from mvrs_dspa_spark.operators.text_analysis import (
        _quality_metrics,
        _quality_score_col,
    )
    from mvrs_dspa_spark.streaming.jobs import streaming_curation

    def t(m):
        return datetime(2026, 4, 1, 9, m, tzinfo=timezone.utc)

    good = (
        "the cat and the dog walked to the park and it was a good day "
        "in the sun with a friend of a friend"
    )
    rows = [
        (1, t(0), "en", good),
        (2, t(1), "en", "zzzz qqqq xxxx"),            # low quality
        (3, t(2), "en", good.upper()),                # dup of 1 after normalize? no: case-folded == 1
        (4, t(3), "en", "  " + good + "  "),          # whitespace dup of 1
        (5, t(4), "en", good + " extra tail words here the a of and to in is it"),
        (6, t(5), "en", good),                        # exact dup of 1
    ]
    schema = "doc_id long, ts timestamp, lang string, text string"
    src = str(tmp_path / "cur_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    # batch truth from the registered definitions
    batch_docs = spark.read.parquet(src)
    scored = _quality_metrics(batch_docs, extra_cols=("ts",)).withColumn(
        "quality_score", _quality_score_col()
    )
    gated = scored.where(F.col("quality_score") >= 0.3)
    key = F.md5(
        F.encode(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " "),
            "UTF-8",
        )
    )
    from pyspark.sql import Window

    # dedup runs AFTER the gate in the stream, so "first occurrence"
    # is first among the quality-passing docs
    first = (
        batch_docs.join(gated.select("doc_id"), "doc_id", "semi")
        .withColumn("k", key)
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("k").orderBy("ts", "doc_id")),
        )
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    want = {
        r["doc_id"]
        for r in gated.join(first, "doc_id", "semi").select("doc_id").collect()
    }

    stream = streaming_curation(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("curation_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    out = spark.table("curation_out").collect()
    got = {r["doc_id"] for r in out}

    assert got == want
    assert 2 not in got          # quality-gated
    assert 6 not in got          # exact dup
    assert 4 not in got          # whitespace-normalized dup
    assert 1 in got and 5 in got
    # scores on the stream equal the registered batch scores
    batch_scores = {
        r["doc_id"]: round(r["quality_score"], 6)
        for r in gated.collect()
    }
    for r in out:
        assert round(r["quality_score"], 6) == batch_scores[r["doc_id"]]


def test_streaming_curation_decontaminates_against_benchmark(spark, tmp_path):
    """Docs sharing an 8-token n-gram with the static benchmark set
    are dropped on the stream, using the SAME gram definition as the
    batch decontaminate operator; gram-free docs pass through."""
    from datetime import datetime, timezone

    from mvrs_dspa_spark.streaming.jobs import streaming_curation_with_decontam

    def t(m):
        return datetime(2026, 4, 2, 9, m, tzinfo=timezone.utc)

    bench_phrase = "the quick brown fox jumps over the lazy dog tonight"
    filler = (
        "a day in the park with a friend and the sun it is a good time "
        "to walk and talk of this and that"
    )
    schema = "doc_id long, ts timestamp, lang string, text string"
    bench = spark.createDataFrame(
        [(1000, t(0), "en", bench_phrase)], schema
    )
    rows = [
        (1, t(1), "en", filler),                              # clean, kept
        (2, t(2), "en", filler + " " + bench_phrase),          # contaminated
        (3, t(3), "en", filler + " quick brown fox jumps"),    # <8-gram: kept
    ]
    src = str(tmp_path / "dc_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = streaming_curation_with_decontam(
        spark.readStream.schema(schema).parquet(src), bench
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dc_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.table("dc_out").collect()}
    assert got == {1, 3}
