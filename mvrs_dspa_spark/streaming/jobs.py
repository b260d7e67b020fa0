"""End-to-end streaming jobs (reference `jobs/` parity).

The reference wires three always-on Flink jobs from Kafka to
ElasticSearch. Here each job is a composition of this package's
sources, operators, and sinks into a started StreamingQuery, runnable
against replayed file batches locally (trigger availableNow) or Kafka
+ RocksDB state on a cluster — the topology is identical, only
source/sink options change.

- :func:`active_post_stats_job` — reference
  `jobs/activeposts/ActivePostStatisticsJob.scala`: replayed events →
  watermarked sliding per-key stats → append sink.
- :func:`recommendations_job` — reference
  `jobs/recommendations/RecommendationsJob.scala:95-118`: per
  micro-batch, users active in the batch get MinHash+LSH top-N
  similar users against the full (historical) item sets.
- :func:`unusual_activity_job` — reference
  `jobs/clustering/UnusualActivityDetectionJob.scala`: streaming
  K-means with decaying weights over per-event feature vectors;
  events are classified by distance to the evolving centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import minhash as MH
from mvrs_dspa_spark.operators.similarity import _PARAMS, BANDS, MIN_SIM, N_HASHES, TOP_N
from mvrs_dspa_spark.streaming import joins
from mvrs_dspa_spark.streaming.kmeans import StreamingKMeansModel, streaming_kmeans
from mvrs_dspa_spark.streaming.windowed import sliding_stats_stream


def enrich_post_stats(
    stats: DataFrame,
    dim: DataFrame,
    defaults: dict[str, str] | None = None,
) -> DataFrame:
    """Enrich windowed stats with dimension metadata.

    Spark-native analog of the reference's async cached ES lookup
    (`jobs/activeposts/AsyncEnrichPostStatisticsFunction.scala:20-62` +
    `utils/Cache.scala`): a stream-static broadcast LEFT join replaces
    the per-key async query + driver cache — the dimension ships once
    per executor and every lookup is a local hash probe, no I/O on the
    hot path.  `defaults` fills misses the way the reference emits
    "<unknown content>"/"<unknown forum>" instead of dropping rows.

    The forced hint assumes the dimension fits executor memory (the
    same assumption the reference's per-worker cache makes). A
    dimension that grows with the user population past that bound
    needs a real lookup store in front.
    """
    enriched = stats.join(F.broadcast(dim), "user_id", "left")
    for col, default in (defaults or {}).items():
        enriched = enriched.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return enriched


def active_post_stats_job(
    events: DataFrame,
    sink_path: str,
    checkpoint: str,
    watermark: str = "2 hours",
    dim: DataFrame | None = None,
    dim_defaults: dict[str, str] | None = None,
):
    """Watermarked sliding activity stats to an exactly-once parquet sink.

    With `dim`, each emitted window row is enriched via a stream-static
    broadcast join (see :func:`enrich_post_stats`) before the sink —
    the reference's enriched post-statistics topology.

    The aggregation state holds one long for `n_users_approx`, an
    exact per-user count (see :func:`sliding_stats_stream`). A
    checkpoint whose state still holds the HLL++ sketch buffer of that
    column fails Spark's state-schema check on resume
    (STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE): start such a job from a
    fresh checkpoint.
    """
    stats = sliding_stats_stream(events, watermark_delay=watermark)
    if dim is not None:
        stats = enrich_post_stats(stats, dim, defaults=dim_defaults)
    return (
        stats.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _batch_items(batch: DataFrame) -> DataFrame:
    from mvrs_dspa_spark.tables import item_code_col

    return batch.select("user_id", item_code_col().alias("item")).where(
        F.col("item").isNotNull()
    ).distinct()


def recommendations_job(
    events: DataFrame,
    sink_writer,
    checkpoint: str,
):
    """Per micro-batch top-N similar users for the batch's active users.

    The batch defines WHO needs fresh recommendations (users active in
    the window — reference's activity-window gating); item sets
    accumulate across batches in driver state here (a parquet/Delta
    feature store on a cluster; the reference reads stored person
    features from ElasticSearch the same way). `sink_writer(df,
    batch_id)` receives (user_id, rec_user_id, est_sim) per batch.
    """
    state: dict[str, DataFrame] = {}

    def _per_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        new_items = _batch_items(batch)
        hist = state.get("items")
        items = new_items if hist is None else hist.unionByName(new_items).distinct()
        # cut lineage across batches: accumulated state must not grow a plan
        items = items.localCheckpoint(eager=True)
        state["items"] = items

        active = new_items.select("user_id").distinct()
        sig = MH.signature_df(items, "user_id", "item", _PARAMS)
        scored = MH.scored_candidate_pairs_from_array_sig_df(
            sig, "user_id", N_HASHES, BANDS
        )
        # both directions from one projection: a union of two selects
        # over `scored` would run the band join once per branch
        both = scored.select(
            F.inline(
                F.array(
                    F.struct(
                        F.col("id_a").alias("user_id"),
                        F.col("id_b").alias("rec_user_id"),
                        "est_sim",
                    ),
                    F.struct(
                        F.col("id_b").alias("user_id"),
                        F.col("id_a").alias("rec_user_id"),
                        "est_sim",
                    ),
                )
            )
        )
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(
            F.col("est_sim").desc(), F.col("rec_user_id")
        )
        recs = (
            both.join(F.broadcast(active), "user_id")  # only batch-active users
            .where(F.col("est_sim") >= MIN_SIM)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= TOP_N)
            .select("user_id", "rec_user_id", "est_sim")
        )
        sink_writer(recs, batch_id)

    return (
        events.writeStream.foreachBatch(_per_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def _event_features(batch: DataFrame) -> DataFrame:
    """Per-event feature vector — the reference's text+frequency
    features (UnusualActivityDetectionJob.scala:405-440) re-targeted
    at events: value magnitude + event-kind one-hot-ish mix."""
    from mvrs_dspa_spark.operators.similarity import EVENT_TYPES

    etype_idx = F.lit(0.0)
    for i, t in enumerate(EVENT_TYPES):
        etype_idx = F.when(F.col("event_type") == t, F.lit(float(i))).otherwise(etype_idx)
    return batch.select(
        "event_id",
        "user_id",
        F.array(
            (F.col("value") / 100.0),
            etype_idx / len(EVENT_TYPES),
            (F.col("user_id") % 97) / 97.0,
        ).alias("features"),
    )


def unusual_activity_job(
    events: DataFrame,
    model: StreamingKMeansModel,
    checkpoint: str,
):
    """Streaming K-means over per-event features; `model` evolves with
    decaying weights per micro-batch and classifies via `model.assign`."""
    feats = events.transform(_event_features)
    return streaming_kmeans(feats, model, "features", checkpoint)


def conversion_attribution_job(
    events: DataFrame,
    sink_path: str,
    checkpoint: str,
):
    """Click→purchase attribution with hourly conversion rollups — two
    CHAINED stateful operators (stream-stream interval join, then a
    windowed aggregation on the join output) in one continuous query,
    the Spark analog of a multi-stage keyed Flink topology.

    Watermark flows through the join automatically (do NOT re-call
    `withWatermark` on the join output — Spark rejects watermark
    redefinition); the aggregation fires a window once the propagated
    watermark (source watermark minus the join's interval upper bound)
    passes window end. Note the watermark nodes sit downstream of the
    click/purchase filters, so only click/purchase events advance
    event time — true of any filtered-stream topology.
    """
    pairs = joins.click_purchase_stream_join(events, within="30 minutes")
    stats = (
        pairs.groupBy(F.window("purchase_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("purchase_value"), 2).alias("conversion_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_conversions",
            "conversion_value",
        )
    )
    return (
        stats.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_curation(
    docs: DataFrame,
    min_quality: float = 0.3,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming ingest curation: quality gate + exact dedup on a
    document stream — the always-on front door of the batch curation
    pipeline (operators/export.py `training_corpus_manifest`).

    Reuses the BATCH `doc_quality` column expressions verbatim
    (text_analysis._quality_metrics / _quality_score_col): the same
    cross-engine-verified definition scores both modes, so a doc is
    kept or dropped identically whether it arrives in a nightly batch
    or on the stream. The dedup key is the batch `dedup_exact`
    normalization (whitespace/case-collapsed text, md5). Both stages
    are scan-bound: the gate is stateless column math; dedup state is
    bounded by the watermark horizon, not corpus history — the
    full-history complement is the streaming MinHash operator
    (dedup_stream.py).

    Input: (doc_id, ts, lang, text) stream. Output (append): doc_id,
    ts, lang, quality_score, content_key of the kept docs.
    """
    from mvrs_dspa_spark.operators.text_analysis import (
        _quality_metrics,
        _quality_score_col,
    )

    content_key = F.md5(
        F.encode(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " "),
            "UTF-8",
        )
    )
    metrics = _quality_metrics(
        docs.withColumn("content_key", content_key),
        extra_cols=("ts", "content_key"),
    )
    return (
        metrics.withColumn("quality_score", _quality_score_col())
        .where(F.col("quality_score") >= min_quality)
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["content_key"])
        .select("doc_id", "ts", "lang", "quality_score", "content_key")
    )


def streaming_curation_with_decontam(
    docs: DataFrame,
    benchmark_docs: DataFrame,
) -> DataFrame:
    """`streaming_curation` plus the benchmark-decontamination stage:
    docs sharing any 8-token n-gram with the (static) benchmark set
    are dropped before the quality gate.

    The benchmark gram set is bounded by the benchmark suite size
    (structurally small, like the batch decontaminate's broadcast
    side), so it is collected once at job build and evaluated as a
    pure array-intersect projection on the stream — no join, no
    state. At larger benchmark sizes the same stage becomes a
    stream-static broadcast join or a bloom filter; the gram
    definition (`decontam.gram8_codes`) is shared either way, so
    stream and batch flag identical documents.
    """
    from mvrs_dspa_spark.functions import text as T
    from mvrs_dspa_spark.operators.decontam import gram8_codes

    bench_rows = (
        benchmark_docs.select(
            F.explode(
                gram8_codes(T.tokens_col(F.col("text")))
            ).alias("code")
        )
        .distinct()
        .collect()
    )
    bench_codes = sorted(int(r["code"]) for r in bench_rows)
    bench_arr = F.array(*[F.lit(c).cast("long") for c in bench_codes])

    contaminated = (
        F.size(
            F.array_intersect(
                gram8_codes(T.tokens_col(F.col("text"))), bench_arr
            )
        )
        > 0
        if bench_codes
        else F.lit(False)
    )
    clean = docs.where(~contaminated)
    return streaming_curation(
        clean, min_quality=0.3, watermark_delay="10 minutes"
    )
