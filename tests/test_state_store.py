"""RocksDB state store: a watermarked aggregation must run end-to-end
on the RocksDB provider and report rocksdb state metrics."""

from __future__ import annotations

from datetime import datetime, timezone

from mvrs_dspa_spark.streaming.state import (
    use_default_state_store,
    use_rocksdb_state_store,
)
from mvrs_dspa_spark.streaming.windowed import tumbling_rollup_stream

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def test_rocksdb_state_store_runs(spark, tmp_path):
    rows = [
        (i, datetime(2026, 1, 1, i % 20, tzinfo=timezone.utc), i, "click", 1.0)
        for i in range(40)
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)

    use_rocksdb_state_store(spark)
    try:
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = (
            tumbling_rollup_stream(stream, "1 hour", "0 seconds")
            .writeStream.format("memory")
            .queryName("rocks_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        ops = [op for p in q.recentProgress for op in p["stateOperators"]]
        assert ops, "no stateful operator progress recorded"
        assert any(
            any(k.startswith("rocksdb") for k in op.get("customMetrics", {}))
            for op in ops
        ), "state metrics do not show the RocksDB provider"
    finally:
        use_default_state_store(spark)
