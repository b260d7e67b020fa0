"""Custom Python DataSource: deterministic synthetic events.

Spark 4's Python DataSource V2 API lets the engine register its OWN
source formats — the PySpark analog of the reference's hand-written
Flink SourceFunctions (`functions/ReplayedSequenceSourceFunction
.scala`, `ReplayedSourceFunction.scala`), which generate or replay
event sequences directly inside the runtime instead of reading files.

`SyntheticEventsDataSource` generates the engine's canonical events
schema (event_id, ts, user_id, event_type, value, props) from a
seeded LCG, split across `numPartitions` independent streams — every
partition derives its rows purely from (seed, partition, row index),
so the output is identical across retries, task respawns, and cluster
sizes: the property the reference's TODO about non-reproducible
replay RNG asks for.

Batch:   spark.read.format("synthetic_events").option("rows", N)...
Stream:  spark.readStream.format("synthetic_events")
         .option("rowsPerBatch", n)... — offsets are plain row
         indexes, so exactly-once restart from a checkpoint is the
         trivial range replay.

Register per session with :func:`register_synthetic_source`.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from mvrs_dspa_spark.tables import EVENT_TYPES

_MASK = (1 << 63) - 1
_LCG_A = 6_364_136_223_846_793_005
_LCG_C = 1_442_695_040_888_963_407

SCHEMA_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _row(seed: int, i: int):
    """Deterministic event #i: pure function of (seed, i)."""
    s = (seed * _LCG_A + i * _LCG_C + 0x9E3779B9) & _MASK
    s = (s * _LCG_A + _LCG_C) & _MASK
    user = s % 1000
    s = (s * _LCG_A + _LCG_C) & _MASK
    etype = EVENT_TYPES[s % len(EVENT_TYPES)]
    s = (s * _LCG_A + _LCG_C) & _MASK
    value = round((s % 49_000) / 100.0 + 0.01, 2)
    ts = _BASE_TS + timedelta(seconds=i * 7)  # monotone event time
    return (i, ts, user, etype, value, '{"k": %d}' % (s % 50))


class _RangePartition(InputPartition):
    def __init__(self, seed: int, start: int, end: int):
        self.seed = seed
        self.start = start
        self.end = end


class _SyntheticReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.seed = int(options.get("seed", 137))
        self.num_partitions = int(options.get("numPartitions", 8))

    def partitions(self):
        step = max(1, self.rows // self.num_partitions)
        parts = []
        start = 0
        while start < self.rows:
            parts.append(
                _RangePartition(self.seed, start, min(start + step, self.rows))
            )
            start += step
        return parts

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _row(partition.seed, i)


class _SyntheticStreamReader(DataSourceStreamReader):
    """Offsets are row indexes; a microbatch is the half-open index
    range — restart from checkpoint is exact range replay."""

    def __init__(self, options):
        self.rows_per_batch = int(options.get("rowsPerBatch", 100))
        self.seed = int(options.get("seed", 137))
        self.max_rows = int(options.get("maxRows", 10_000_000))
        self._offset = 0

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        self._offset = min(self._offset + self.rows_per_batch, self.max_rows)
        return {"index": self._offset}

    def partitions(self, start, end):
        return [_RangePartition(self.seed, start["index"], end["index"])]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _row(partition.seed, i)

    def commit(self, end):
        pass


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synthetic_events"

    def schema(self):
        return SCHEMA_DDL

    def reader(self, schema: StructType):
        return _SyntheticReader(self.options)

    def streamReader(self, schema: StructType):
        return _SyntheticStreamReader(self.options)


def register_synthetic_source(spark) -> None:
    spark.dataSource.register(SyntheticEventsDataSource)
