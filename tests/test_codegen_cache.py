"""The compiled-class cache holds a working set larger than Spark's
default of 100 classes (`session.CODEGEN_CACHE_ENTRIES`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mvrs_dspa_spark.session import CODEGEN_CACHE_ENTRIES


def test_codegen_cache_keeps_more_than_the_default_working_set(spark):
    """Cycling more distinct classes than the default cache holds: at
    100 entries the LRU evicts every class before its next use, so the
    second cycle compiles them all again; with the engine's cache it
    compiles none."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == CODEGEN_CACHE_ENTRIES
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME()  # one count per class compiled

    def cycle() -> int:
        before = compiled.getCount()
        # an inlined literal makes each projection's generated source distinct
        for i in range(120):
            spark.range(0, 3, 1, 1).select((F.col("id") * F.lit(7919 + i)).alias("x")).collect()
        return compiled.getCount() - before

    assert cycle() > 100
    assert cycle() == 0
