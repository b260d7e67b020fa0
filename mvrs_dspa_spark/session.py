"""SparkSession factory tuned for the engine.

Defaults target local[...] testing but every knob is the one you would
set on a large cluster: AQE (runtime coalesce + skew-join splitting),
Arrow for the few pandas-UDF paths, and a shuffle-partition count that
callers override per deployment (32 locally, thousands on a cluster).

Streaming checkpoints on a local session go through Spark's
`FileSystemBasedCheckpointFileManager` instead of the default
`FileContextBasedCheckpointFileManager`. Every writer that commits
through the checkpoint manager uses it: offset, commit and source logs,
the file sink's `_spark_metadata` log, and HDFS-backed state-store
delta and checksum files. Without libhadoop (the usual pip install),
the FileContext manager's rename calls `getFileLinkStatus` on the
local filesystem, and Hadoop answers that by forking a `readlink`
child process (`FileUtil.readLink`) for each rename. The FileSystem
manager checks `exists(dst)` and then renames; the FileContext rename
checks `getFileLinkStatus(dst)` and then renames. On the local
filesystem both are check-then-rename, so the guarantee is the same
and only the forks go away.

The choice is made from the session's master and default filesystem:
a `local...` master with a `file:` default filesystem gets the
FileSystem manager; any other session keeps FileContext, whose rename
is atomic on HDFS. A fully qualified remote checkpoint location (an
`hdfs://` or `s3a://` URI) under a local master therefore also goes
through the FileSystem manager. Spark 4.1 moved the managers into a
`checkpointing` subpackage; `checkpoint_package` finds the one the
running JVM has.

Spark keeps the classes whole-stage codegen compiles in one LRU cache
per JVM, keyed by the generated source, and its default holds 100
(`spark.sql.codegen.cache.maxEntries`). A pass over the headline
queries generates about 190 distinct classes, so the LRU evicts each
one before its next use and every pass compiles all of them again with
Janino (10-16 ms each), on the executor task threads of a local
session. `CODEGEN_CACHE_ENTRIES` is sized to the engine's working set:
at sf0.01 the whole registry compiles 2853 distinct classes and the
rounded-up power of two is 4096. A class costs about 44 KB of
metaspace (the registry's 2853 took 125 MB), so a full cache is
bounded near 180 MB outside the heap. Only compiled bytecode is
cached: every query still builds, analyzes, plans and executes in
full. The setting is a static conf, and the cache is built once per
JVM, so it only takes effect when `get_spark` builds the JVM's first
context; a session someone else built first keeps Spark's default.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
# whole-stage codegen class cache (see the module docstring)
CODEGEN_CACHE_ENTRIES = 4096
# Spark >= 4.1 first, then the 3.5/4.0 location
_CHECKPOINT_PACKAGES = (
    "org.apache.spark.sql.execution.streaming.checkpointing",
    "org.apache.spark.sql.execution.streaming",
)


def checkpoint_package(spark: SparkSession) -> str:
    """The JVM package that holds this Spark's checkpoint file managers."""
    jvm = spark.sparkContext._jvm
    for pkg in _CHECKPOINT_PACKAGES:
        if isinstance(getattr(jvm, f"{pkg}.CheckpointFileManager"), JavaClass):
            return pkg
    raise RuntimeError("no CheckpointFileManager class in the Spark JVM")


def is_local_session(master: str, default_fs: str) -> bool:
    """True when both the executors and the default filesystem are this
    machine's (see the module docstring)."""
    return master.startswith("local") and default_fs.startswith("file:")


def get_spark(
    app_name: str = "mvrs-dspa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert to micros in tables.py (same truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    # decided on the built context: a reused session keeps its own master,
    # and core-site.xml can set the default filesystem
    sc = spark.sparkContext
    if is_local_session(sc.master, sc._jsc.hadoopConfiguration().get("fs.defaultFS")):
        spark.conf.set(
            CHECKPOINT_MANAGER_KEY,
            f"{checkpoint_package(spark)}.FileSystemBasedCheckpointFileManager",
        )
    return spark
