"""The benchmark's workloads: what each generates, how one round of
work runs through the program's public functions, and how its output
is checked.

A round is the unit a run repeats until its time is up: one catch-up
drain of a staged backlog for the stream workloads, one pass over the
headline queries for the batch workload. Operations are what latency
and failures are counted over: micro-batches and queries.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import random
import time

import duckdb

import gen

EVENTS_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
              "value DOUBLE, props STRING")
WATERMARK = "30 minutes"
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class Op(dict):
    """One micro-batch or query: name, start_ms, latency_ms, ok, ..."""


class Round(dict):
    """One drain or pass: ops, wall_s, events (streams)."""


# --- stream workloads --------------------------------------------------------


class StreamWorkload:
    """A catch-up drain: the whole backlog is staged before `start()`,
    and the job's `availableNow` trigger reads it `files_per_trigger`
    files per micro-batch until it is empty."""

    events_per_file: int
    n_files: int
    n_users: int
    gap_us: int
    communities = 0
    files_per_trigger = 1
    setups = 3

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.log = gen.event_log(seed, self.events_per_file * self.n_files,
                                 self.n_users, self.gap_us, self.communities)
        self.backlog = os.path.join(work, "backlog")
        gen.write_backlog(self.log, self.backlog, self.events_per_file)
        warm = gen.event_log(seed + 1_000_003, self.events_per_file * self.n_files,
                             self.n_users, self.gap_us, self.communities)
        self.warm_backlog = os.path.join(work, "warm_backlog")
        gen.write_backlog(warm, self.warm_backlog, self.events_per_file)
        self._drains = 0

    @property
    def events(self) -> int:
        return self.log.num_rows

    def _dirs(self) -> tuple[str, str]:
        self._drains += 1
        base = os.path.join(self.work, f"drain{self._drains:04d}")
        return os.path.join(base, "out"), os.path.join(base, "ckpt")

    def _stream(self, spark, backlog: str):
        return (spark.readStream.schema(EVENTS_DDL)
                .option("maxFilesPerTrigger", self.files_per_trigger)
                .parquet(backlog))

    def warmup(self, ctx) -> None:
        self.drain(ctx, self.warm_backlog, check=False)

    def round(self, ctx) -> Round:
        return self.drain(ctx, self.backlog, check=True)

    def drain(self, ctx, backlog: str, check: bool) -> Round:
        sink, ckpt = self._dirs()
        self.batches_out: dict[int, list] = {}
        t0 = time.perf_counter()
        with ctx.span("drain", "drain"):
            with ctx.span(f"jobs.{self.job_name}", "jobs"):
                query = self.start(ctx, self._stream(ctx.spark, backlog), sink, ckpt)
            error = None
            try:
                query.awaitTermination()
            except Exception as exc:  # a failed query fails its whole drain
                error = f"{type(exc).__name__}: {exc}"[:500]
        wall = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in query.recentProgress]
        ops = [Op(name=f"batch{p['batchId']}", batch_id=p["batchId"],
                  start_ms=_iso_ms(p["timestamp"]),
                  latency_ms=float(p["durationMs"].get("triggerExecution", 0)),
                  progress=p, ok=error is None) for p in progress]
        if error is not None and not ops:
            ops = [Op(name="drain", start_ms=0.0, latency_ms=wall * 1000, progress=None, ok=False)]
        rnd = Round(ops=ops, wall_s=wall, events=self.events if backlog == self.backlog else 0,
                    sink=sink, ckpt=ckpt, error=error)
        if check and error is None:
            self.check(rnd)
        return rnd

    def batch_files(self, ckpt: str) -> dict[int, list[int]]:
        """batch id -> indices of the backlog files it read (source log)."""
        out: dict[int, list[int]] = {}
        for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        entry = json.loads(line)
                        idx = int(os.path.basename(entry["path"]).split("-")[1].split(".")[0])
                        out.setdefault(entry["batchId"], []).append(idx)
        return out


def _iso_ms(stamp: str) -> float:
    dt = datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


class PostStats(StreamWorkload):
    job_name = "active_post_stats_job"

    def start(self, ctx, stream, sink, ckpt):
        from mvrs_dspa_spark.streaming.jobs import active_post_stats_job

        return active_post_stats_job(stream, sink, ckpt, watermark=WATERMARK)

    def _expected(self):
        if not hasattr(self, "_exp"):
            hour = gen.HOUR_US
            con = duckdb.connect()
            con.register("log", self.log)
            final_wm = con.execute("SELECT max(epoch_us(ts)) FROM log").fetchone()[0] - gen.MAX_DELAY_US
            self._exp = con.execute(f"""
                WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type, value FROM log),
                x AS (SELECT *, unnest(generate_series(t - t % {hour} - 5 * {hour},
                                                       t - t % {hour}, {hour})) AS ws FROM e)
                SELECT ws, user_id, count(*) AS n_events,
                       count_if(event_type = 'click') AS n_click,
                       count_if(event_type = 'error') AS n_error,
                       count_if(event_type = 'purchase') AS n_purchase,
                       count_if(event_type = 'signup') AS n_signup,
                       count_if(event_type = 'view') AS n_view,
                       round(sum(value), 2) AS total_value
                FROM x GROUP BY ws, user_id HAVING ws + 6 * {hour} <= {final_wm}
            """).arrow()
            con.close()
        return self._exp

    def check(self, rnd: Round) -> None:
        """Emitted windows must equal a DuckDB sliding aggregation of the
        generated events over the windows the final watermark closed,
        and no event may be dropped as late."""
        dropped = sum(op["progress"]["stateOperators"][0]["numRowsDroppedByWatermark"]
                      for op in rnd["ops"] if op["progress"]["stateOperators"])
        files = glob.glob(os.path.join(rnd["sink"], "*.parquet"))
        bad = dropped
        if files:
            con = duckdb.connect()
            con.register("expected", self._expected())
            bad += con.execute(f"""
                WITH got AS (SELECT epoch_us(window_start) AS ws, user_id, n_events, n_click,
                                    n_error, n_purchase, n_signup, n_view, n_users_approx,
                                    total_value
                             FROM read_parquet({files!r}))
                SELECT count(*) FROM got FULL OUTER JOIN expected e USING (ws, user_id)
                WHERE got.n_events IS DISTINCT FROM e.n_events
                   OR got.n_click IS DISTINCT FROM e.n_click
                   OR got.n_error IS DISTINCT FROM e.n_error
                   OR got.n_purchase IS DISTINCT FROM e.n_purchase
                   OR got.n_signup IS DISTINCT FROM e.n_signup
                   OR got.n_view IS DISTINCT FROM e.n_view
                   OR got.n_users_approx IS DISTINCT FROM 1
                   OR NOT abs(got.total_value - e.total_value) < 0.005
            """).fetchone()[0]
            con.close()
        else:
            bad += len(self._expected())
        rnd["mismatches"] = bad
        if bad:
            for op in rnd["ops"]:
                op["ok"] = False
        rnd["sink_files"] = len(files)


class PostsSmallBatches(PostStats):
    events_per_file = 1_000
    n_files = 6
    n_users = 2_000
    gap_us = 26_000_000


class PostsLargeBatches(PostStats):
    events_per_file = 25_000
    n_files = 3
    n_users = 20_000
    gap_us = 2_600_000


class RecommendationsStream(StreamWorkload):
    job_name = "recommendations_job"
    events_per_file = 5_000
    n_files = 3
    n_users = 1_500
    gap_us = 26_000_000
    communities = 25

    def start(self, ctx, stream, sink, ckpt):
        from mvrs_dspa_spark.streaming.jobs import recommendations_job

        batches = self.batches_out

        def sink_writer(df, batch_id):
            with ctx.span("sink.collect", "sink"):
                batches[batch_id] = df.collect()

        return recommendations_job(stream, sink_writer, ckpt)

    def check(self, rnd: Round) -> None:
        """Per batch: no self-recommendation, est_sim >= 0.1, at most 5
        rows per user, and every user was active in that batch."""
        files = self.batch_files(rnd["ckpt"])
        users = self.log.column("user_id").to_numpy()
        bad = 0
        for op in rnd["ops"]:
            rows = self.batches_out.get(op["batch_id"], [])
            active = set()
            for idx in files.get(op["batch_id"], []):
                lo = idx * self.events_per_file
                active.update(users[lo:lo + self.events_per_file].tolist())
            per_user: dict[int, int] = {}
            ok = bool(active) and bool(rows)
            for r in rows:
                per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
                ok = ok and r.rec_user_id != r.user_id and r.est_sim >= 0.1 and r.user_id in active
            ok = ok and all(c <= 5 for c in per_user.values())
            op["ok"] = op["ok"] and ok
            op["rows_out"] = len(rows)
            bad += not ok
        rnd["mismatches"] = bad
        rnd["sink_files"] = 0


# --- batch headline ----------------------------------------------------------

#: bench.BENCH_QUERIES, the repository's headline set.
HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_supplier_volume",
    "sliding_activity_stats", "user_sessions", "similar_users_jaccard",
    "similar_users_minhash_lsh", "dedup_minhash_lsh", "ann_cosine_topk",
    "kmeans_embeddings",
)
WARMUP_QUERY = "q1_pricing_summary"


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _canon_rows(columns, rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(_canon(row[i]) for i in order) for row in rows), key=repr)
    return [tuple(sorted(columns))] + out


class BatchHeadline:
    """One client, closed loop: build the query, count its rows, repeat,
    over the headline queries in an order drawn from the seed.

    The tables are generated at sf0.01, the scale of the repository's
    oracle test data, whose shapes they reproduce (see `gen.star_schema`).
    """

    SF = 0.01
    setups = 5

    def __init__(self, seed: int, work: str) -> None:
        self.sf_dir = os.path.join(work, "tables")
        self.rows = gen.star_schema(seed, self.sf_dir, self.SF)
        self.rng = random.Random(seed)
        from mvrs_dspa_spark.plans.registry import oracle_sql

        con = duckdb.connect()
        for name in self.rows:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, name + '.parquet')}'")
        self.oracle = {}
        sql = oracle_sql()
        for name in HEADLINE:
            res = con.execute(sql[name])
            self.oracle[name] = _canon_rows([d[0] for d in res.description], res.fetchall())
        con.close()
        self.events = 0

    def _builder(self, name):
        from mvrs_dspa_spark.plans.registry import queries

        return queries()[name]

    def warmup(self, ctx) -> None:
        self._builder(WARMUP_QUERY)(ctx.spark, self.sf_dir).count()

    def check_pass(self, ctx) -> list[Op]:
        """Untimed: every query's full result against its DuckDB oracle."""
        ops = []
        for name in HEADLINE:
            try:
                df = self._builder(name)(ctx.spark, self.sf_dir)
                ok = _canon_rows(df.columns, [tuple(r) for r in df.collect()]) == self.oracle[name]
            except Exception:
                ok = False
            ops.append(Op(name=name, ok=ok))
        return ops

    def round(self, ctx) -> Round:
        order = list(HEADLINE)
        self.rng.shuffle(order)
        ops = []
        for name in order:
            op = Op(name=name)
            t0 = time.perf_counter()
            op["start_ms"] = ctx.tracer.epoch_ms(t0)
            try:
                with ctx.span(f"query:{name}", "op") as rec:
                    with ctx.span(f"plans.{name}", "plans"):
                        df = self._builder(name)(ctx.spark, self.sf_dir)
                    # what DataFrame.count() runs, held as one object so
                    # the traced run plans it once and executes that plan
                    counted = df.groupBy().count()
                    if ctx.tracing:
                        with ctx.span("catalyst.executedPlan", "catalyst"):
                            counted._jdf.queryExecution().executedPlan()
                    with ctx.span("exec.count", "exec"):
                        n = counted.collect()[0][0]
                op["ok"] = n == len(self.oracle[name]) - 1
                if rec is not None:
                    op["span"] = rec["id"]
            except Exception:
                op["ok"] = False
            op["latency_ms"] = (time.perf_counter() - t0) * 1000.0
            ops.append(op)
        return Round(ops=ops, wall_s=sum(o["latency_ms"] for o in ops) / 1000.0, events=0)


WORKLOADS = {
    "posts_small_batches": PostsSmallBatches,
    "posts_large_batches": PostsLargeBatches,
    "recommendations_stream": RecommendationsStream,
    "batch_headline": BatchHeadline,
}
