"""tables.table() resolves schemas from the parquet footer, not by a
Spark inference job, and must still read every `events.ts` layout the
generators and tests write as the same TIMESTAMP instants."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mvrs_dspa_spark import tables

# 2024-01-02 03:04:05.678901 UTC and neighbours, in micros
_TS_US = [1_704_164_645_678_901, 1_704_164_645_000_000, 0, 1_717_000_000_123_456]


def _write_arrow_events(sf: str, ts_type: pa.DataType, scale: int, **kw) -> None:
    os.makedirs(sf)
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(_TS_US)), pa.int64()),
            "ts": pa.array([t * scale for t in _TS_US], ts_type),
        }
    )
    pq.write_table(tbl, os.path.join(sf, "events.parquet"), **kw)


@pytest.fixture(scope="module")
def ts_layouts(spark, tmp_path_factory) -> dict[str, str]:
    """One sf dir per `events.ts` layout, keyed by layout name."""
    root = tmp_path_factory.mktemp("ts_layouts")
    out = {name: str(root / name) for name in (
        "nanos", "micros_naive", "micros_utc", "int96_arrow", "int96_spark"
    )}
    _write_arrow_events(out["nanos"], pa.timestamp("ns"), 1000, version="2.6")
    _write_arrow_events(out["micros_naive"], pa.timestamp("us"), 1)
    _write_arrow_events(out["micros_utc"], pa.timestamp("us", tz="UTC"), 1)
    _write_arrow_events(
        out["int96_arrow"], pa.timestamp("us"), 1, use_deprecated_int96_timestamps=True
    )
    # a Spark-written directory of part files, as the streak tests write
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TS_US)], "event_id long, us long"
    ).select("event_id", F.timestamp_micros("us").alias("ts")).coalesce(2).write.parquet(
        os.path.join(out["int96_spark"], "events.parquet")
    )
    return out


def _ts_column(sf: str):
    footer = tables._footer_file(os.path.join(sf, "events.parquet"))
    col = pq.ParquetFile(footer).schema.column(1)
    return col.physical_type, col.logical_type.to_json()


def test_layouts_cover_every_physical_ts_form(ts_layouts):
    forms = {name: _ts_column(sf) for name, sf in ts_layouts.items()}
    assert forms["nanos"][0] == "INT64" and '"nanoseconds"' in forms["nanos"][1]
    assert '"isAdjustedToUTC": false' in forms["micros_naive"][1]
    assert '"isAdjustedToUTC": true' in forms["micros_utc"][1]
    assert forms["int96_arrow"][0] == "INT96"
    assert forms["int96_spark"][0] == "INT96"


def test_every_ts_layout_reads_as_identical_timestamps(spark, ts_layouts):
    for name, sf in ts_layouts.items():
        df = tables.table(spark, sf, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", name
        got = sorted(
            (r[0], r[1])
            for r in df.select("event_id", F.unix_micros("ts")).collect()
        )
        assert got == list(enumerate(_TS_US)), name


def test_footer_schema_matches_inference_for_every_ts_layout(spark, ts_layouts):
    tables._ensure_session_configs(spark)
    for name, sf in ts_layouts.items():
        path = os.path.join(sf, "events.parquet")
        declared = spark.read.schema(tables.parquet_schema(path)).parquet(path)
        assert declared.schema == spark.read.parquet(path).schema, name


def test_table_schema_matches_inference_for_every_sf_table(spark, sf_small):
    for name in tables.TABLE_NAMES:
        got = tables.table(spark, sf_small, name).schema
        path = os.path.join(sf_small, f"{name}.parquet")
        assert tables.parquet_schema(path) is not None, name
        inferred = spark.read.parquet(path).schema
        if name == "events":
            # table() normalizes ts; every other field is as inferred
            inferred = T.StructType(
                [
                    T.StructField("ts", T.TimestampType()) if f.name == "ts" else f
                    for f in inferred
                ]
            )
        assert got == inferred, name


def test_unresolvable_paths_fall_back_to_inference(tmp_path):
    assert tables.parquet_schema(str(tmp_path / "missing.parquet")) is None
    (tmp_path / "part" / "k=1").mkdir(parents=True)
    assert tables.parquet_schema(str(tmp_path / "part")) is None


def test_table_starts_no_spark_job(spark, sf_small, ts_layouts):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "tables-no-job"
    sc.setJobGroup(group, "tables.table must not run a Spark job")
    try:
        before = set(tracker.getJobIdsForGroup(group))
        for name in tables.TABLE_NAMES:
            tables.table(spark, sf_small, name)
        for sf in ts_layouts.values():
            tables.table(spark, sf, "events")
        assert set(tracker.getJobIdsForGroup(group)) == before
        # control: Spark's own schema inference does show up as a job
        spark.read.parquet(os.path.join(sf_small, "region.parquet"))
        assert set(tracker.getJobIdsForGroup(group)) != before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
