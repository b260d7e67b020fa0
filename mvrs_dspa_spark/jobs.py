"""Standalone job runner (reference `jobs/FlinkStreamingJob.scala` /
`ActivePostStatisticsJob.scala` mains analog).

The reference ships each streaming topology as a runnable main wired
by application.conf. This module is the Spark-native equivalent: one
CLI over the library jobs in `streaming/jobs.py`, runnable as

    python -m mvrs_dspa_spark.jobs active_posts \\
        --source dir --events-dir /root/testdata/sf0.001 \\
        --sink parquet --out /tmp/stats --checkpoint /tmp/ckpt

Jobs
----
- ``active_posts``      watermarked sliding per-user activity stats
- ``recommendations``   per-batch MinHash/LSH top-N similar users
- ``unusual_activity``  streaming K-means classification
- ``attribution``       click→purchase interval join + hourly rollup
- ``curation``          quality gate + watermark-bounded exact dedup
- ``drift``             continuous PSI + exact-W1 drift monitors vs a
                        reference window (reports written at shutdown)

Sources: ``dir`` (events replayed from `<events-dir>/events.parquet`
as event-time-ordered micro-batches — the local dev loop) or
``kafka`` (JSON payloads on a topic; requires the kafka package on
the classpath, endpoint from settings.kafka unless --brokers).
Sinks: ``parquet`` (default; recommendations write per-batch
idempotent batch_id=N directories) or ``es`` (requires the
elasticsearch-spark connector; endpoint from settings.elasticsearch).

The jobs' tunables come from the typed settings object (config.py):
the input directory, the Kafka and Elasticsearch endpoints, the
sliding-window size and slide, and the K-means k and decay. So
`MVRS_DSPA_*` env overrides reach the CLI exactly like the reference's
HOCON env substitutions reach its mains. The watermark and the replay
batch count are CLI flags instead.
"""

from __future__ import annotations

import argparse
import sys
import tempfile

from mvrs_dspa_spark.config import settings

JOBS = (
    "active_posts",
    "recommendations",
    "unusual_activity",
    "attribution",
    "curation",
    "drift",
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m mvrs_dspa_spark.jobs",
        description=__doc__.split("\n\n")[0],
    )
    p.add_argument("job", choices=JOBS)
    p.add_argument("--source", choices=("dir", "kafka"), default="dir")
    p.add_argument(
        "--events-dir",
        default=settings.data.tables_directory,
        help="directory containing events.parquet (source=dir)",
    )
    p.add_argument("--topic", default="mvrs_events", help="kafka topic")
    p.add_argument("--brokers", default=None, help="kafka brokers override")
    p.add_argument("--sink", choices=("parquet", "es"), default="parquet")
    p.add_argument("--out", required=True, help="sink path / ES index")
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--limit", type=int, default=None, help="cap input events")
    p.add_argument("--batches", type=int, default=4, help="replay batches")
    p.add_argument("--watermark", default="1 hour")
    p.add_argument(
        "--timeout", type=int, default=600, help="await-termination seconds"
    )
    p.add_argument(
        "--split-us",
        type=int,
        default=None,
        help="drift job: reference-window boundary (epoch micros); "
        "defaults to the halfway point of the input log, the batch "
        "queries' retrospective convention",
    )
    p.add_argument(
        "--state-dir",
        default=None,
        help="drift job: persist monitor state here at shutdown and "
        "reload it at startup — paired with --checkpoint, a restarted "
        "job continues exactly where it stopped",
    )
    return p


def _events_stream(spark, args):
    """Build the input stream per --source."""
    if args.source == "kafka":
        from mvrs_dspa_spark.streaming.sources import decode_json, kafka_stream
        from mvrs_dspa_spark.tables import table

        raw = kafka_stream(spark, args.brokers, args.topic)
        schema = table(spark, args.events_dir, "events").schema
        return decode_json(raw, schema)

    from mvrs_dspa_spark.streaming.replay import (
        read_replay_stream,
        write_replay_batches,
    )
    from mvrs_dspa_spark.tables import table

    ev = table(spark, args.events_dir, "events")
    if args.limit:
        ev = ev.limit(args.limit)
    if args.checkpoint:
        # deterministic staging next to the checkpoint: a RESTARTED
        # job sees the same file paths, so the file-source checkpoint
        # skips everything already processed instead of re-ingesting
        # a fresh temp copy under new names
        import glob
        import os

        replay_dir = args.checkpoint.rstrip("/") + "_replay"
        if not glob.glob(os.path.join(replay_dir, "batch_*")):
            write_replay_batches(ev, replay_dir, n_batches=args.batches)
    else:
        replay_dir = tempfile.mkdtemp(prefix="mvrs_replay_")
        write_replay_batches(ev, replay_dir, n_batches=args.batches)
    return read_replay_stream(spark, replay_dir, ev.schema)


def _batch_sink_writer(args):
    """foreachBatch writer for jobs that emit per-batch results:
    batch-id partition directories make driver retries re-deliver
    idempotently (same pattern as streaming/observer.py 29n)."""
    if args.sink == "es":
        from mvrs_dspa_spark.streaming.sources import elastic_sink_options

        def write(df, batch_id):
            (
                df.write.format("org.elasticsearch.spark.sql")
                .options(**elastic_sink_options(index=args.out))
                .mode("append")
                .save()
            )

        return write

    def write(df, batch_id):
        df.write.mode("overwrite").parquet(f"{args.out}/batch_id={batch_id}")

    return write


def run(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="mvrs_ckpt_")

    from mvrs_dspa_spark.session import get_spark
    from mvrs_dspa_spark.streaming import jobs as J

    spark = get_spark()

    if args.job == "active_posts":
        q = J.active_post_stats_job(
            _events_stream(spark, args),
            sink_path=args.out,
            checkpoint=checkpoint,
            watermark=args.watermark,
        )
    elif args.job == "recommendations":
        q = J.recommendations_job(
            _events_stream(spark, args),
            _batch_sink_writer(args),
            checkpoint,
        )
    elif args.job == "unusual_activity":
        from mvrs_dspa_spark.streaming.kmeans import StreamingKMeansModel

        model = StreamingKMeansModel(
            k=settings.clustering.default_k,
            decay=settings.clustering.default_decay,
        )
        q = J.unusual_activity_job(
            _events_stream(spark, args), model, checkpoint
        )
    elif args.job == "attribution":
        q = J.conversion_attribution_job(
            _events_stream(spark, args),
            sink_path=args.out,
            checkpoint=checkpoint,
        )
    elif args.job == "curation":
        from pyspark.sql import functions as F

        from mvrs_dspa_spark.streaming.sources import read_stream
        from mvrs_dspa_spark.tables import table

        # document stream: stage the table into micro-batch files (the
        # file source needs a directory, and this is the ingest shape —
        # files arriving in a drop directory); ts-less docs get an
        # ingest timestamp
        batch = table(spark, args.events_dir, "documents")
        if args.limit:
            batch = batch.limit(args.limit)
        stage = tempfile.mkdtemp(prefix="mvrs_docs_")
        batch.repartition(args.batches).write.mode("overwrite").parquet(stage)
        docs = read_stream(
            spark,
            stage,
            schema=batch.schema,
            max_files_per_trigger=1,
        ).withColumn("ts", F.current_timestamp())
        curated = J.streaming_curation(docs)
        q = (
            curated.writeStream.format("parquet")
            .option("path", args.out)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    elif args.job == "drift":
        from pyspark.sql import functions as F

        from mvrs_dspa_spark.streaming.monitor import feed
        from mvrs_dspa_spark.streaming.psi_stream import PsiMonitor
        from mvrs_dspa_spark.streaming.wasserstein_stream import (
            WassersteinMonitor,
        )
        from mvrs_dspa_spark.tables import table

        split = args.split_us
        if split is None:
            r = (
                table(spark, args.events_dir, "events")
                .agg(
                    F.min(F.unix_micros("ts")).alias("mn"),
                    F.max(F.unix_micros("ts")).alias("mx"),
                )
                .collect()[0]
            )
            split = (r.mn or 0) + ((r.mx or 0) - (r.mn or 0)) // 2
        import os

        sd = args.state_dir
        if sd and os.path.exists(f"{sd}/psi"):
            psi = PsiMonitor.load(spark, f"{sd}/psi", split)
            w1 = WassersteinMonitor.load(spark, f"{sd}/wasserstein", split)
        else:
            psi = PsiMonitor(spark, split)
            w1 = WassersteinMonitor(spark, split)

        q = (
            _events_stream(spark, args)
            .writeStream.foreachBatch(feed(psi.update, w1.update))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

        def post():
            if sd:
                psi.save(f"{sd}/psi")
                w1.save(f"{sd}/wasserstein")
            psi.report().write.mode("overwrite").parquet(f"{args.out}/psi")
            w1.report().write.mode("overwrite").parquet(
                f"{args.out}/wasserstein"
            )

    else:  # pragma: no cover - argparse enforces choices
        raise ValueError(args.job)

    if not q.awaitTermination(args.timeout):
        q.stop()
        print(f"ERROR: {args.job} did not finish in {args.timeout}s",
              file=sys.stderr)
        return 2
    if args.job == "drift":
        post()
    print(f"{args.job}: done (checkpoint={checkpoint})")
    return 0


if __name__ == "__main__":
    raise SystemExit(run())
