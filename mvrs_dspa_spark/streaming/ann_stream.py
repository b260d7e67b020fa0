"""Streaming vector search: query vectors arrive on a stream and are
answered against a batch-built IVF index (SURVEY §2e/§2f).

The serving half of the ANN family: `build_ivf_index` (operators/ann)
coarse-quantizes the corpus offline; the stream probes each query's
nprobe nearest cells (Arrow-batched matmul against the broadcast
centroid matrix — k x d doubles, scale-independent), equi-joins the
static inverted lists on the cell id, scores exact cosine on the
candidates, and ranks top-k per query inside foreachBatch. Ranking is
batch-local and exact because every candidate of a query derives from
that query's own input row — no cross-batch state, so the streaming
answer for a query is IDENTICAL to the batch `ann_ivf` answer
(proven in tests/test_streaming_ann.py).

At scale the static side is a parquet inverted-list table partitioned
by cell: the stream-static join prunes to probed partitions, and the
per-trigger work is |batch| x nprobe/nlist of the corpus.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mvrs_dspa_spark.operators.ann import TOP_K, _cos_udf, ivf_probe_udf


def streaming_ann_candidates(
    queries: DataFrame, index: DataFrame, cents: list[list[float]]
) -> DataFrame:
    """Scored candidate stream: probe-cell explode -> stream-static
    equi-join on cluster -> exact cosine. Append-safe (stateless)."""
    probes = queries.select(
        F.col("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(ivf_probe_udf(cents)("embedding")).alias("cluster"),
    )
    return (
        probes.join(index, "cluster")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cos_udf()(F.col("q_emb"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
    )


def run_streaming_ann(
    queries: DataFrame,
    index: DataFrame,
    cents: list[list[float]],
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start the serving job: per micro-batch, rank candidates TOP_K
    per query and hand the result to `sink(batch_df, batch_id)`.

    The rank runs inside foreachBatch because all of a query's
    candidates are produced in the micro-batch that carried the query
    — so the per-batch window is exact, with none of append-mode's
    watermark latency."""
    cand = streaming_ann_candidates(queries, index, cents)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )

    def rank_and_sink(batch: DataFrame, batch_id: int) -> None:
        ranked = (
            batch.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id", "cos_sim")
        )
        sink(ranked, batch_id)

    return (
        cand.writeStream.foreachBatch(rank_and_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
