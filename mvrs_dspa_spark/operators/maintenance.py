"""Table maintenance: small-file compaction + range clustering.

The chronic failure mode of a long-running 100 TB lake is file-count
explosion — every micro-batch commit and every over-parallel write
adds files, and scan planning cost grows linearly with file count
(listing, footer reads, task scheduling). `compact_parquet` is the
OPTIMIZE analog: rewrite a directory into ~target-size files, sized
from the on-disk bytes via the Hadoop FileSystem API (metadata only,
no data scan), optionally range-clustered on chosen columns.

Clustering uses `repartitionByRange` + `sortWithinPartitions`: output
files then carry narrow, near-disjoint min/max ranges on the cluster
columns in their parquet footers, so any engine's row-group/file
pruning (including Spark's parquet filter pushdown) can skip most of
the table for selective predicates. Two layouts:

- `cluster_by`: lexicographic range clustering — the right choice
  when ONE column dominates the filter workload (typically event
  time); trailing columns get no locality.
- `zorder_by`: multi-column Z-order (Morton) clustering — each
  column is min/max-normalized to a fixed-width integer and the bits
  interleaved into one key (the Delta OPTIMIZE ZORDER layout, built
  from plain Spark bit expressions); every clustered column then has
  narrow footer ranges, so selective predicates on ANY of them prune
  files. The interleave key is a pure JVM-side expression (shift/
  and/or), computed and dropped inside the rewrite.

Reference parity: the reference's ES indexes are rebuilt per run
(`db/*Index.scala` recreate-on-start); a lakehouse engine needs the
in-place equivalent.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Recursive byte size via the Hadoop FS API (works on any scheme)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


ZORDER_BITS = 16  # per-column resolution of the interleave key


def zorder_key(df: DataFrame, cols: list[str]):
    """Morton interleave key over numeric columns as a Column.

    Each column is min/max-normalized to an unsigned ZORDER_BITS-wide
    integer (one metadata-cheap agg supplies the bounds), then bit i
    of column j lands at position i*ncols + j of the key — the
    standard Z-order curve. Pure shift/and/or expressions: stays
    inside whole-stage codegen, no UDF.
    """
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
        ]
    r = df.agg(*aggs).collect()[0]

    top = (1 << ZORDER_BITS) - 1
    scaled = []
    for c in cols:
        mn, mx = float(r[f"mn_{c}"]), float(r[f"mx_{c}"])
        span = (mx - mn) or 1.0
        v = F.floor(
            (F.col(c).cast("double") - F.lit(mn))
            / F.lit(span)
            * F.lit(1 << ZORDER_BITS)
        ).cast("long")
        scaled.append(F.greatest(F.lit(0), F.least(F.lit(top), v)))

    ncols = len(cols)
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        for j, v in enumerate(scaled):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ncols + j))
    return z


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite `in_path` into `out_path` as ~target-size parquet files.

    Returns the number of output partitions chosen. With `cluster_by`,
    rows are range-partitioned and sorted on those columns so each
    output file covers a narrow value range (file/row-group pruning);
    with `zorder_by` (mutually exclusive), rows cluster on the Morton
    interleave of 2-3 numeric columns so EVERY listed column prunes.
    """
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    df = spark.read.parquet(in_path)
    n = max(1, math.ceil(_dir_bytes(spark, in_path) / target_file_bytes))
    if zorder_by:
        z = zorder_key(df, zorder_by)
        out = (
            df.withColumn("_zorder", z)
            .repartitionByRange(n, "_zorder")
            .sortWithinPartitions("_zorder")
            .drop("_zorder")
        )
    elif cluster_by:
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in cluster_by]
        out = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    else:
        out = df.repartition(n)
    out.write.mode("error").parquet(out_path)
    return n


def backfill_partition_overwrite(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """Idempotent partition backfill: INSERT-OVERWRITE semantics for a
    Hive-partitioned parquet directory via dynamic partitionOverwriteMode
    — ONLY the partitions present in `df` are replaced; all other
    partitions are untouched.

    This is the reprocessing pattern behind every daily-batch pipeline
    fix ("re-run 2026-03-14"): the rewrite is a directory swap per
    touched partition, so re-running the same backfill is a no-op in
    effect (same content replaces same content), and a crashed backfill
    never corrupts untouched days. Static mode (the Spark default)
    would instead DELETE every partition in the table — the classic
    footgun this helper exists to pin down.
    """
    # Write-scoped option (Spark 2.4+), NOT the session-global conf:
    # mutating spark.sql.sources.partitionOverwriteMode around the write
    # would leak dynamic mode into concurrent writers in the same
    # session and race on the save/restore. The per-write option has
    # identical semantics with no shared-state window.
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def zone_map_report(
    spark: SparkSession, path: str, col: str
) -> DataFrame:
    """Per-file zone map (min/max of `col`) + the clustering quality
    metric that predicts scan-skipping effectiveness.

    For each parquet file in `path`: the file's min/max of `col` and
    `n_overlaps` — how many OTHER files' [min, max] ranges intersect
    its own. After a range-clustered rewrite (`compact_parquet`
    cluster_by/zorder_by) overlaps should be ~0: a selective predicate
    then prunes to ~1 file via footer stats alone. Near-total overlap
    means clustering is absent/decayed and an OPTIMIZE pass is due —
    this is the observability half of the compaction story, the
    number a table owner watches to schedule rewrites.

    Reads ONLY (file, min, max) per file: the scan aggregates
    per-file via input_file_name(), so at 100 TB this is a
    metadata-light single pass (and an engine could serve it from
    footers alone); the overlap join runs on the file-count-bounded
    range table.
    """
    from pyspark.sql import functions as F

    ranges = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(col).alias("zmin"),
            F.max(col).alias("zmax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    a, b = ranges.alias("a"), ranges.alias("b")
    overlaps = (
        a.join(
            b,
            (F.col("a.file") != F.col("b.file"))
            & (F.col("a.zmin") <= F.col("b.zmax"))
            & (F.col("b.zmin") <= F.col("a.zmax")),
            "left",
        )
        .groupBy("a.file", "a.zmin", "a.zmax", "a.n_rows")
        .agg(F.count(F.col("b.file")).alias("n_overlaps"))
    )
    return overlaps.select(
        F.col("file"), F.col("zmin"), F.col("zmax"), F.col("n_rows"),
        F.col("n_overlaps"),
    ).orderBy("zmin", "file")
