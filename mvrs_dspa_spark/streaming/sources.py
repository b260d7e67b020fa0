"""Batch + streaming sources and sinks (SURVEY §2e #28).

The reference reads CSV files (optionally replayed into Kafka) and
sinks to ElasticSearch (`utils/kafka/`, `functions/Replayed*SourceFunction`,
`ReplayedCsvFileSourceFunction.scala`). Spark-first, the same surface
is the DataSource API: `spark.read`/`readStream` with explicit schemas
(schema inference is a full extra pass at 100 TB — never in
production paths) and `writeStream` sinks. Kafka needs the
spark-sql-kafka package on the classpath plus a broker; neither exists
in this environment, so the Kafka surface is a **config builder** that
produces exactly the options a cluster deployment passes to
``.format("kafka")``, gated behind an availability probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mvrs_dspa_spark.config import settings

_BATCH_FORMATS = ("parquet", "csv", "json")


def read_batch(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Schema-explicit batch reader (csv defaults to header=true)."""
    if fmt not in _BATCH_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path)


def read_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """File-source stream. Streams REQUIRE an explicit schema."""
    if fmt not in _BATCH_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    if schema is None:
        raise ValueError("streaming file sources require an explicit schema")
    reader = spark.readStream.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    if max_files_per_trigger is not None:
        options["maxFilesPerTrigger"] = str(max_files_per_trigger)
    return reader.options(**options).format(fmt).load(path)


# ---------------------------------------------------------------------------
# Kafka config surface (ref utils/kafka/KafkaTopic.scala, jobs use topics
# "mvrs_*"). No broker/package in this env -> builders + availability gate.
# ---------------------------------------------------------------------------


def kafka_available(spark: SparkSession) -> bool:
    """True iff the kafka data source is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def kafka_source_options(
    brokers: str | None = None,
    topic: str = "",
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    return {
        # ref application.conf kafka.brokers (+ env override) via settings
        "kafka.bootstrap.servers": brokers or settings.kafka.brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }


def kafka_sink_options(
    brokers: str | None = None, topic: str = ""
) -> dict[str, str]:
    return {
        "kafka.bootstrap.servers": brokers or settings.kafka.brokers,
        "topic": topic,
    }


def kafka_stream(
    spark: SparkSession, brokers: str | None = None, topic: str = "", **kwargs
) -> DataFrame:
    """Kafka source stream; raises a clear error when the package is absent."""
    if not kafka_available(spark):
        raise RuntimeError(
            "kafka data source not on classpath; submit with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
        )
    return (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(brokers, topic, **kwargs))
        .load()
    )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned layout — the 100 TB table format.

    Partition columns must be low-cardinality (event kind, date);
    readers with literal predicates on them prune whole directories
    before any I/O (PartitionFilters in the scan, not PushedFilters).

    The repartition on the partition columns is load-bearing: without
    it every task writes a file into every partition directory —
    tasks × partitions small files, the classic metadata killer.  With
    it each partition's data lands in one task = one file.
    """
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned parquet layout; partition columns come back
    as regular columns and literal filters on them prune directories."""
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Avro payload surface (ref utils/avro/AvroUtils.scala +
# Avro4sSerializationSchema.scala: Kafka messages carry Avro-encoded
# records).  Spark-first this is from_avro/to_avro over the Kafka
# `value` binary column; the spark-avro package is not in this env, so
# the codec is gated exactly like the Kafka source itself.
# ---------------------------------------------------------------------------

# Avro schema for the events payload — the writer/reader contract a
# cluster deployment registers (schema-registry or literal), matching
# tables.table("events") post-conversion (ts carried as micros).
EVENTS_AVRO_SCHEMA = """{
  "type": "record", "name": "Event", "namespace": "mvrs.dspa",
  "fields": [
    {"name": "event_id", "type": "long"},
    {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    {"name": "user_id", "type": "long"},
    {"name": "event_type", "type": "string"},
    {"name": "value", "type": "double"},
    {"name": "props", "type": ["null", "string"], "default": null}
  ]
}"""


# to_json's default timestampFormat truncates to milliseconds; the
# events table carries micros, so the codec pins a micro format
_JSON_TS_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def encode_json(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pack `cols` into one JSON `value` binary column — the Kafka
    message shape with a codec that needs no extra package (the
    executable stand-in for the Avro path below; same topology)."""
    return df.select(
        F.to_json(F.struct(*cols), _JSON_TS_OPTS).cast("binary").alias("value")
    )


def decode_json(df: DataFrame, schema: StructType | str) -> DataFrame:
    """Unpack a JSON `value` binary column back into typed columns."""
    return df.select(
        F.from_json(F.col("value").cast("string"), schema, _JSON_TS_OPTS).alias("r")
    ).select("r.*")


def avro_available(spark: SparkSession) -> bool:
    """True iff the spark-avro data source is usable.

    A Class.forName probe is not enough: Spark ships the to_avro/
    from_avro SQL function stubs even without the package, and they
    fail analysis with AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE.  So
    probe by analyzing (not executing) a one-column to_avro plan.
    """
    try:
        from pyspark.sql import functions as F
        from pyspark.sql.avro.functions import to_avro

        spark.range(1).select(to_avro(F.struct("id")).alias("v"))
        return True
    except Exception:
        return False


def encode_avro(df: DataFrame, cols: list[str], schema: str) -> DataFrame:
    """Pack `cols` into one Avro `value` binary column (Kafka sink shape)."""
    from pyspark.sql import functions as F
    from pyspark.sql.avro.functions import to_avro

    _require_avro(df.sparkSession)
    return df.select(to_avro(F.struct(*cols), schema).alias("value"))


def decode_avro(df: DataFrame, schema: str) -> DataFrame:
    """Unpack an Avro `value` binary column back into typed columns
    (Kafka source shape: `kafka_stream(...).transform(decode_avro, ...)`)."""
    from pyspark.sql import functions as F
    from pyspark.sql.avro.functions import from_avro

    _require_avro(df.sparkSession)
    return df.select(from_avro(F.col("value"), schema).alias("r")).select("r.*")


def _require_avro(spark: SparkSession) -> None:
    if not avro_available(spark):
        raise RuntimeError(
            "avro data source not on classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------


def parquet_sink(df: DataFrame, path: str, checkpoint: str, **kwargs):
    """Exactly-once file sink (the scale-path default)."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(**kwargs)
    )


def memory_sink(df: DataFrame, name: str):
    """In-memory table sink (tests/debug only — driver-resident)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_sink(df: DataFrame, fn, checkpoint: str, output_mode: str = "update"):
    """foreachBatch sink — the escape hatch for custom/idempotent sinks
    (ElasticSearch in the reference; model updates in streaming/kmeans)."""
    return (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# ElasticSearch sink surface (ref utils/elastic/ElasticSearchNode.scala,
# ElasticSearchIndexSink.scala, ElasticSearchIndexWithUpsertOutputFormat.scala:
# every job upserts documents keyed by an id column into a per-job index).
# The elasticsearch-hadoop Spark connector isn't on this classpath, so —
# like Kafka above — the surface is an options builder + availability gate,
# with a deterministic local JSON-index stand-in for tests.
# ---------------------------------------------------------------------------


def elastic_available(spark: SparkSession) -> bool:
    """True iff the elasticsearch-spark connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.elasticsearch.spark.sql.DefaultSource")
        return True
    except Exception:
        return False


def elastic_sink_options(
    nodes: str | None = None, index: str = "", doc_id_col: str | None = None
) -> dict[str, str]:
    """Options for ``.format("org.elasticsearch.spark.sql")`` matching the
    reference's upsert-by-id behavior."""
    if nodes is None:
        # ref application.conf elasticsearch.hosts via settings
        es = settings.elasticsearch
        nodes = f"{es.scheme}://{es.host}:{es.port}"
    opts = {"es.nodes": nodes, "es.resource": index}
    if doc_id_col is not None:
        opts["es.mapping.id"] = doc_id_col
        opts["es.write.operation"] = "upsert"
    return opts


def elastic_sink(
    df: DataFrame,
    nodes: str | None,
    index: str,
    checkpoint: str,
):
    """Streaming ES sink; raises a clear error when the connector is absent."""
    if not elastic_available(df.sparkSession):
        raise RuntimeError(
            "elasticsearch data source not on classpath; submit with "
            "--packages org.elasticsearch:elasticsearch-spark-30_2.13:<es-version>"
        )
    return (
        df.writeStream.format("org.elasticsearch.spark.sql")
        .options(**elastic_sink_options(nodes, index))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


LOCAL_INDEX_MAX_BATCH_ROWS = 100_000


def local_index_sink(df: DataFrame, index_dir: str, doc_id_col: str, checkpoint: str):
    """Deterministic local stand-in for the ES index: upsert-by-id into a
    JSON-lines directory via foreachBatch (last write per id wins, like
    the reference's upsert output format). Used by tests; the production
    path is `elastic_sink`.

    TEST-ONLY by construction: every batch is collected to the driver
    and the whole file rewritten. The row-count guard makes that
    contract loud — a job accidentally pointing a real stream here
    fails immediately instead of silently melting the driver."""
    import json
    import os

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n > LOCAL_INDEX_MAX_BATCH_ROWS:
            raise RuntimeError(
                f"local_index_sink is a driver-collecting TEST stand-in; "
                f"batch {batch_id} has {n} rows > "
                f"{LOCAL_INDEX_MAX_BATCH_ROWS}. Use elastic_sink for "
                "real streams."
            )
        os.makedirs(index_dir, exist_ok=True)
        path = os.path.join(index_dir, "index.jsonl")
        docs: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as fh:
                docs = {d[doc_id_col]: d for d in map(json.loads, fh) if doc_id_col in d}
        for row in batch_df.toJSON().collect():
            doc = json.loads(row)
            docs[doc[doc_id_col]] = doc
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            for key in sorted(docs, key=str):
                fh.write(json.dumps(docs[key], sort_keys=True, default=str) + "\n")
        os.replace(tmp, path)

    return foreach_batch_sink(df, upsert, checkpoint, output_mode="update")
