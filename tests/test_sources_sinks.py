"""File sources/sinks + Kafka config surface + progress observer
(SURVEY §2e #28-29)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from mvrs_dspa_spark.streaming import sources
from mvrs_dspa_spark.streaming.observer import ProgressMonitor, observe_counts
from mvrs_dspa_spark.tables import table

SCHEMA = "id long, name string, v double"


def test_csv_json_batch_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], SCHEMA)
    for fmt in ("csv", "json", "parquet"):
        path = str(tmp_path / f"rt_{fmt}")
        df.write.format(fmt).option("header", "true").save(path)
        back = sources.read_batch(spark, path, fmt, SCHEMA)
        assert back.schema == df.schema
        assert sorted(r.id for r in back.collect()) == [1, 2]


def test_stream_requires_schema(spark, tmp_path):
    try:
        sources.read_stream(spark, str(tmp_path), "csv")
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "schema" in str(e)


def test_csv_stream_to_parquet_sink(spark, tmp_path):
    df = spark.createDataFrame([(i, f"r{i}", float(i)) for i in range(20)], SCHEMA)
    src = str(tmp_path / "csv_in")
    df.coalesce(2).write.option("header", "true").csv(src)
    stream = sources.read_stream(spark, src, "csv", SCHEMA, max_files_per_trigger=1)
    out, ckpt = str(tmp_path / "pq_out"), str(tmp_path / "ckpt")
    q = sources.parquet_sink(stream, out, ckpt)
    assert q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 20


def test_kafka_gated_config_surface(spark):
    opts = sources.kafka_source_options("broker:9092", "mvrs_events")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "mvrs_events"
    assert opts["startingOffsets"] == "earliest"
    assert sources.kafka_sink_options("b:9092", "t")["topic"] == "t"
    if not sources.kafka_available(spark):
        try:
            sources.kafka_stream(spark, "broker:9092", "mvrs_events")
            raise AssertionError("expected RuntimeError without kafka package")
        except RuntimeError as e:
            assert "kafka" in str(e)


def test_elastic_gated_config_surface(spark):
    opts = sources.elastic_sink_options("es-node:9200", "mvrs-statistics", "post_id")
    assert opts["es.nodes"] == "es-node:9200"
    assert opts["es.resource"] == "mvrs-statistics"
    assert opts["es.mapping.id"] == "post_id"
    assert opts["es.write.operation"] == "upsert"
    assert "es.mapping.id" not in sources.elastic_sink_options("n", "i")
    if not sources.elastic_available(spark):
        df = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        try:
            sources.elastic_sink(df, "es-node:9200", "idx", "/tmp/nope")
            raise AssertionError("expected RuntimeError without es connector")
        except RuntimeError as e:
            assert "elasticsearch" in str(e)


def test_local_index_sink_upserts_by_id(spark, tmp_path):
    """The ES stand-in must upsert: two batches writing the same id keep
    only the last document (ref ElasticSearchIndexWithUpsertOutputFormat)."""
    import json

    src = str(tmp_path / "in")
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    df.coalesce(1).write.option("header", "true").csv(src)
    idx = str(tmp_path / "es_index")
    stream = sources.read_stream(spark, src, "csv", SCHEMA)
    q = sources.local_index_sink(stream, idx, "id", str(tmp_path / "ck1"))
    assert q.awaitTermination(60)
    # second batch: overwrite id=2, add id=3 — resuming from the SAME
    # checkpoint, so only the new file forms the (later) micro-batch
    df2 = spark.createDataFrame([(2, "b2", 2.5), (3, "c", 3.0)], SCHEMA)
    df2.coalesce(1).write.option("header", "true").mode("append").csv(src)
    q2 = sources.local_index_sink(stream, idx, "id", str(tmp_path / "ck1"))
    assert q2.awaitTermination(60)
    with open(f"{idx}/index.jsonl") as fh:
        docs = {d["id"]: d for d in map(json.loads, fh)}
    assert set(docs) == {1, 2, 3}
    assert docs[2]["name"] == "b2"


def test_progress_monitor_and_observe(spark, sf_small, tmp_path):
    mon = ProgressMonitor()
    spark.streams.addListener(mon)
    try:
        ev = table(spark, sf_small, "events").limit(50)
        src = str(tmp_path / "obs_in")
        ev.select("event_id", "value").coalesce(1).write.parquet(src)
        stream = spark.readStream.schema("event_id long, value double").parquet(src)
        observed = observe_counts(
            stream, "progress", F.sum("value").alias("sum_v")
        )
        q = sources.memory_sink(observed, "obs_out")
        assert q.awaitTermination(120)
        # listener bus is async; poll briefly
        for _ in range(60):
            if mon.total_input_rows() >= 50 and mon.terminated:
                break
            time.sleep(0.5)
        assert mon.total_input_rows() == 50
        assert mon.started and mon.terminated
        metrics = mon.observed("progress")
        assert metrics and metrics[0]["n_rows"] == 50
        assert abs(metrics[0]["sum_v"]) >= 0.0
    finally:
        spark.streams.removeListener(mon)


def test_avro_surface_gated(spark, sf_small):
    import json

    import pytest

    from mvrs_dspa_spark.streaming import sources as S

    # schema is valid Avro JSON with the events field contract
    schema = json.loads(S.EVENTS_AVRO_SCHEMA)
    assert schema["type"] == "record"
    assert [f["name"] for f in schema["fields"]] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]

    ev = table(spark, sf_small, "events").limit(20)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    if not S.avro_available(spark):
        with pytest.raises(RuntimeError, match="spark-avro"):
            S.encode_avro(ev, cols, S.EVENTS_AVRO_SCHEMA)
        pytest.skip("spark-avro not on classpath; codec surface gated")

    # with the package present: lossless round-trip through the binary
    # `value` column, the exact Kafka message shape
    packed = S.encode_avro(ev, cols, S.EVENTS_AVRO_SCHEMA)
    assert packed.columns == ["value"]
    back = S.decode_avro(packed, S.EVENTS_AVRO_SCHEMA)
    orig = {tuple(r) for r in ev.select(*cols).collect()}
    got = {tuple(r) for r in back.select(*cols).collect()}
    assert got == orig


def test_partitioned_write_prunes_directories(spark, sf_small, tmp_path):
    import os

    ev = table(spark, sf_small, "events").withColumn(
        "day", F.to_date("ts")
    )
    root = str(tmp_path / "part_events")
    sources.write_partitioned(ev, root, ["event_type"])

    # one directory per event kind, ONE file per directory (the
    # repartition prevents tasks x partitions file explosion)
    dirs = sorted(d for d in os.listdir(root) if d.startswith("event_type="))
    assert len(dirs) == 5
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    back = sources.read_partitioned(spark, root)
    assert back.count() == ev.count()

    # literal filter on the partition column prunes whole directories:
    # it must appear as a PartitionFilter, NOT a data PushedFilter,
    # and the pruned scan reads 1/5 of the files
    q = back.where(F.col("event_type") == "purchase")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan or (
        "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1].split("]")[0]
    ), plan
    assert q.count() == ev.where(F.col("event_type") == "purchase").count()


def test_json_value_codec_roundtrip(spark, sf_small):
    # executable Kafka-payload path (Avro sibling is gated): events ->
    # binary value column -> back, lossless including the nested props
    ev = table(spark, sf_small, "events").limit(50)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    packed = sources.encode_json(ev.select(*cols), cols)
    assert [f.dataType.simpleString() for f in packed.schema.fields] == ["binary"]
    back = sources.decode_json(packed, schema)
    orig = sorted(tuple(r) for r in ev.select(*cols).collect())
    got = sorted(tuple(r) for r in back.select(*cols).collect())
    assert got == orig
