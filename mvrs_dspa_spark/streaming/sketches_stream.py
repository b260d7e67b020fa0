"""Streaming count-min sketch (SURVEY §2e #29s).

The streaming form of `operators/sketches.cms_sketch`: a continuous
aggregation over the (j, bucket) counter grid. This is the rare
streaming aggregate that needs NO watermark and NO state eviction —
the key space is structurally bounded at D*W cells whatever flows
through, so "complete" output mode is safe at any corpus size. That
boundedness is exactly why production pipelines sketch streams
instead of counting them: per-trigger state stays a few KiB while the
stream is unbounded.

Mergeability is the defining sketch property (cell-wise addition), and
Spark's incremental aggregation state IS the running merge — proven in
tests/test_streaming_sketches.py by streaming the corpus in many
micro-batches and requiring the final grid to equal the batch-built
sketch cell-for-cell (the same batch==stream proof pattern as the
curation, near-dup, and IVF-serving jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.operators.sketches import _bucket_cols


def cms_stream_cells(docs: DataFrame) -> DataFrame:
    """(j, bucket, c) running counter grid over a streaming document
    source. Narrow explode (tokens, then xD bucket fan-out) feeding a
    bounded-key streaming aggregate; use outputMode('complete')."""
    toks = docs.select(
        F.explode(T.tokens_col(F.col("text"))).alias("t")
    )
    code = H.str_code_col(F.col("t"))
    return (
        toks.select(
            F.posexplode(F.array(*_bucket_cols(code))).alias("j", "bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
