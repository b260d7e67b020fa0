"""Bucketed-table co-located joins (SURVEY §4 scale posture).

A fact-fact join (orders x lineitem at 100 TB) shuffles BOTH sides on
the key every time it runs. Writing the tables bucketed by the join
key moves that shuffle to write time, once: every subsequent join
reads co-located buckets and plans with NO Exchange on either side.
This is Spark's answer to the reference's keyed-stream co-location
(keyBy on both Flink streams before connect).

Works with the in-memory catalog (datasource tables) — no Hive
required; on a cluster the same calls write to the lake catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Write df as a bucketed+sorted datasource table on `key`.

    Sorting within buckets lets the join skip its sort step too
    (SortMergeJoin reads pre-sorted bucket files).
    """
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planwise
    shuffle-free (verify: no Exchange in the explain output)."""
    return spark.table(left_table).join(spark.table(right_table), key, "inner")
