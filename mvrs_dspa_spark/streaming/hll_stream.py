"""Streaming HyperLogLog distinct counting (§2e widening; the
streaming form of `operators/sketches.hll_user_counts`).

"How many distinct users per event type so far" is the canonical
unbounded-state streaming trap: exact streaming count-distinct keeps
one state row per user forever. The HLL register table is the
production answer — a continuous MAX aggregation over (group, bucket)
whose key space is structurally bounded at groups x m registers
whatever flows through, so "complete" output mode is safe at any
stream length (the same boundedness argument as the streaming CMS).

MAX is the HLL merge operator, and Spark's incremental aggregation
state IS the running merge: the final register table must equal the
batch-built one register-for-register, pinned by the batch==stream
test exactly like the CMS grid proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.operators.sketches import (
    _HLL_A1,
    _HLL_A2,
    _HLL_B1,
    _HLL_B2,
    HLL_M,
    HLL_Y_BITS,
)


def hll_stream_registers(events: DataFrame) -> DataFrame:
    """(group, bucket, m_j) running register table over a stream.

    Same hashes as the batch `hll_registers` (bit-identical
    registers); keyed state bounded at |groups| x m rows. Use
    outputMode('complete') — no watermark needed, nothing is ever
    evicted, exactly like a production HLL rollup."""
    code = H.str_code_col(F.col("user_id").cast("string"))
    bucket = (H.affine_col(code, _HLL_A1, _HLL_B1) % F.lit(HLL_M)).cast("int")
    y = H.affine_col(code, _HLL_A2, _HLL_B2) % F.lit(1 << HLL_Y_BITS)
    bit_len = sum(
        (y >= F.lit(1 << k)).cast("int") for k in range(HLL_Y_BITS)
    )
    rho = (F.lit(HLL_Y_BITS + 1) - bit_len).cast("int")
    return (
        events.select(
            F.col("event_type").alias("grp"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def run_hll_stream(source: DataFrame, checkpoint: str) -> dict:
    """Drive a bounded event stream to completion; returns
    {(grp, bucket): m_j} of the final register table."""
    regs = hll_stream_registers(source)
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("hll stream did not finish within 180s")
    rows = source.sparkSession.sql("SELECT * FROM hll_regs").collect()
    return {(r.grp, r.bucket): r.m_j for r in rows}
