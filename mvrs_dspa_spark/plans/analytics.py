"""Temporal / analytical operators beyond plain TPC-H shapes
(SURVEY §2a #10t-10w): as-of join, ROLLUP hierarchy, range-frame
moving aggregate, exact percentiles.

These are the analytics idioms a reference user would reach for next
(the reference's windowed statistics family plus standard streaming-DB
temporal joins), each expressed as one declarative plan Catalyst can
optimize, with a DuckDB oracle twin.

Scale notes:
- as-of join: the classic union-tag + running last_value form — ONE
  shuffle on the join key, no range-join explosion, no per-key state.
  This is the canonical distributed as-of (e.g. point-in-time joins in
  feature stores); a sort-merge ASOF like DuckDB's single-node one
  would require a global interleave anyway.
- rollup: Spark expands grouping sets map-side; one shuffle, partial
  aggregation per grouping set.
- moving average: RANGE frame over event-time per user — window sort
  is per user_id partition, no cross-key data movement.
- percentiles: exact `percentile` needs the full value multiset per
  group (sort-based agg, one shuffle); both engines interpolate
  linearly so results hash-match. The streaming/sketch variant is
  approx_percentile — kept out of the oracle gate deliberately.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table


@register(
    "click_purchase_asof",
    oracle="""
        SELECT p.event_id,
               p.user_id,
               p.ts AS purchase_ts,
               c.ts AS click_ts,
               ROUND((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 3)
                   AS delay_s
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id
    """,
    doc="As-of join: each purchase attributed to the user's most "
    "recent click at or before it (left: unattributed purchases "
    "keep NULL). Union-tag + running last_value, one shuffle.",
    tags=("relational", "temporal"),
)
def click_purchase_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select("event_id", "user_id", "ts", "event_type")
    )
    is_p = F.col("event_type") == "purchase"
    # order clicks before purchases at equal ts so `>=` semantics hold
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), is_p.cast("int").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attr = F.last(F.when(~is_p, F.col("ts")), ignorenulls=True).over(w)
    return (
        ev.withColumn("click_ts", attr)
        .where(is_p)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_ts",
            F.round(
                (F.unix_micros("ts") - F.unix_micros("click_ts")) / 1_000_000.0, 3
            ).alias("delay_s"),
        )
        .orderBy("event_id")
    )


@register(
    "event_rollup_hierarchy",
    oracle="""
        SELECT event_type,
               day,
               CAST(GROUPING(event_type) AS INT) AS g_type,
               CAST(GROUPING(day) AS INT) AS g_day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM (
            -- duckdb date_trunc('day') is DATE; Spark's is TIMESTAMP
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   value
            FROM events
        )
        GROUP BY ROLLUP (event_type, day)
        ORDER BY g_type, g_day, event_type, day
    """,
    doc="Hierarchical rollup (type, day) -> (type) -> () in one pass: "
    "Spark expands grouping sets map-side, one shuffle.",
    tags=("relational",),
)
def event_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    return (
        ev.rollup("event_type", "day")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("event_type", "day", "g_type", "g_day", "n_events", "total_value")
        .orderBy("g_type", "g_day", "event_type", "day")
    )


_MAVG_WINDOW_US = 3_600_000_000  # 1 hour in microseconds


@register(
    "user_value_moving_avg",
    oracle=f"""
        SELECT event_id, user_id, ts,
               ROUND(AVG(value) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN {_MAVG_WINDOW_US} PRECEDING AND CURRENT ROW
               ), 6) AS avg_1h,
               CAST(COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN {_MAVG_WINDOW_US} PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_1h
        FROM events
        ORDER BY user_id, ts, event_id
    """,
    doc="Trailing 1 h per-user moving average over event time (RANGE "
    "frame on epoch micros, identical bounds in both engines).",
    tags=("windows", "temporal"),
)
def user_value_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value", F.unix_micros("ts").alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_MAVG_WINDOW_US, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.avg("value").over(w), 6).alias("avg_1h"),
            F.count(F.lit(1)).over(w).alias("n_1h"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@register(
    "event_value_percentiles",
    oracle="""
        SELECT event_type,
               ROUND(q[1], 6) AS p50,
               ROUND(q[2], 6) AS p90,
               ROUND(q[3], 6) AS p99
        FROM (
            SELECT event_type,
                   quantile_cont(value, [0.5, 0.9, 0.99]) AS q
            FROM events GROUP BY event_type
        )
        ORDER BY event_type
    """,
    doc="Exact linear-interpolated p50/p90/p99 per event type "
    "(verified bit-identical interpolation across engines).",
    tags=("relational",),
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    q = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        ev.groupBy("event_type")
        .agg(q.alias("q"))
        .select(
            "event_type",
            F.round(F.element_at("q", 1), 6).alias("p50"),
            F.round(F.element_at("q", 2), 6).alias("p90"),
            F.round(F.element_at("q", 3), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


APPROX_PCT_ACCURACY = 10_000  # KLL-style sketch accuracy knob


@register(
    "event_value_percentiles_approx",
    oracle=None,  # sketch output is engine-specific; pytest bounds the error
    doc="Sketch-based p50/p90/p99 per event type via approx_percentile "
    "(Greenwald-Khanna/KLL-family quantile sketch): mergeable partial "
    "sketches, one shuffle of sketch state instead of the full value "
    "multiset — the streaming/100 TB path next to the exact "
    "event_value_percentiles baseline. tests/test_sketches.py bounds "
    "its error against the exact oracle-gated twin.",
    tags=("relational", "sketch", "rows_gate"),
)
def event_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    q = F.approx_percentile(
        "value",
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        F.lit(APPROX_PCT_ACCURACY),
    )
    return (
        ev.groupBy("event_type")
        .agg(q.alias("q"))
        .select(
            "event_type",
            F.round(F.element_at("q", 1), 6).alias("p50"),
            F.round(F.element_at("q", 2), 6).alias("p90"),
            F.round(F.element_at("q", 3), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


@register(
    "latest_events_snapshot",
    oracle="""
        SELECT user_id, event_type, event_id AS last_event_id,
               ts AS last_ts, ROUND(value, 2) AS last_value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY user_id, event_type
    """,
    doc="CDC upsert compaction: collapse the event log to the latest "
    "row per (user, type) key — the MERGE/latest-snapshot idiom, one "
    "shuffle on the key, ties broken by event_id so both engines pick "
    "the same row.",
    tags=("relational", "temporal"),
)
def latest_events_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.round("value", 2).alias("last_value"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "activity_ledger",
    oracle="""
        SELECT kind,
               COUNT(*) AS n_rows,
               ROUND(SUM(amount), 2) AS total_amount
        FROM (
            SELECT 'event:' || event_type AS kind, value AS amount
            FROM events
            UNION ALL
            SELECT 'order:' || o_orderpriority AS kind,
                   o_totalprice AS amount
            FROM orders
        )
        GROUP BY kind
        ORDER BY kind
    """,
    doc="Heterogeneous-source union into a common ledger schema "
    "(SURVEY §2a #10 standalone gate): events and orders normalized "
    "to (kind, amount), then one aggregation over the union — the "
    "map-side-combined shape where the union adds no exchange.",
    tags=("relational", "union"),
)
def activity_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.concat(F.lit("event:"), F.col("event_type")).alias("kind"),
        F.col("value").alias("amount"),
    )
    orders = table(spark, sf_dir, "orders").select(
        F.concat(F.lit("order:"), F.col("o_orderpriority")).alias("kind"),
        F.col("o_totalprice").alias("amount"),
    )
    return (
        ev.unionByName(orders)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("amount"), 2).alias("total_amount"),
        )
        .orderBy("kind")
    )


@register(
    "event_cube_summary",
    oracle="""
        SELECT event_type,
               dow,
               CAST(GROUPING(event_type) AS INT) AS g_type,
               CAST(GROUPING(dow) AS INT) AS g_dow,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM (
            SELECT event_type,
                   CAST(dayofweek(ts) AS BIGINT) AS dow,
                   value
            FROM events
        )
        GROUP BY CUBE (event_type, dow)
        ORDER BY g_type, g_dow, event_type, dow
    """,
    doc="Full CUBE over (type, day-of-week): all four grouping sets in "
    "one pass — Spark expands the sets map-side before a single "
    "shuffle, the same physical shape as ROLLUP with 4 instead of 3 "
    "sets (the OLAP cross-tab companion to event_rollup_hierarchy).",
    tags=("relational",),
)
def event_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        "value",
    )
    return (
        ev.cube("event_type", "dow")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("dow").cast("int").alias("g_dow"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("event_type", "dow", "g_type", "g_dow", "n_events", "total_value")
        .orderBy("g_type", "g_dow", "event_type", "dow")
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "user_event_type_pivot",
    oracle=f"""
        SELECT user_id,
               {", ".join(
                   f"CAST(count_if(event_type = '{t}') AS BIGINT) AS n_{t}"
                   for t in _PIVOT_TYPES
               )},
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    doc="Long-to-wide pivot: per-user event-type count matrix via "
    "Spark's native pivot with an EXPLICIT value list — without it "
    "Spark runs an extra distinct-values job and the output schema "
    "becomes data-dependent, both wrong at 100 TB. One shuffle, "
    "map-side partial aggregation.",
    tags=("relational",),
)
def user_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    counts = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 2).alias("total_value")
    )
    wide = counts.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _PIVOT_TYPES
        ],
    )
    return wide.join(totals, "user_id").orderBy("user_id")


_JOURNEY_LEN = 5


@register(
    "user_journey_paths",
    oracle=f"""
        WITH seqs AS (
            SELECT user_id,
                   array_to_string(
                       list_slice(
                           list(event_type ORDER BY ts, event_id),
                           1, {_JOURNEY_LEN}),
                       '>') AS path
            FROM events
            GROUP BY user_id
        )
        SELECT path,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM seqs
        GROUP BY path
        ORDER BY n_users DESC, path
    """,
    doc="Funnel/path mining: each user's first-5 event-type sequence "
    "(event-time ordered, event_id tiebreak) counted across users. "
    "The ordered collect is sort_array over (ts, event_id, type) "
    "structs INSIDE the aggregation — deterministic under any "
    "partitioning, no per-group sort shuffle beyond the groupBy "
    "itself; path frequencies then partial-aggregate map-side.",
    tags=("relational", "sessions"),
)
def user_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"), F.col("event_type")
        ).alias("e"),
    )
    path = F.array_join(
        F.slice(
            F.transform(
                F.sort_array(F.collect_list("e")), lambda s: s["event_type"]
            ),
            1,
            _JOURNEY_LEN,
        ),
        ">",
    )
    return (
        ev.groupBy("user_id")
        .agg(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
    )


@register(
    "event_type_transitions",
    oracle="""
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(1.0 * COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6)
                   AS p_next
        FROM (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
        ORDER BY prev_type, next_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: LAG window (one shuffle on user_id), then transition "
    "counts and row-normalized probabilities. The per-prev_type "
    "normalizer is an analytic sum over the already-aggregated cells "
    "— no second scan, no driver-side matrix.",
    tags=("relational", "sessions"),
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return (
        pairs.withColumn(
            "p_next",
            F.round(F.col("n").cast("double") / F.sum("n").over(norm), 6),
        )
        .select("prev_type", "next_type", "n", "p_next")
        .orderBy("prev_type", "next_type")
    )


_HIST_WIDTH = 10.0
_HIST_LO = 0.0
_HIST_HI = 100.0


@register(
    "event_value_histogram",
    oracle=f"""
        SELECT bucket,
               ({_HIST_LO} + bucket * {_HIST_WIDTH})::DOUBLE AS lo,
               ({_HIST_LO} + (bucket + 1) * {_HIST_WIDTH})::DOUBLE AS hi,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MIN(value), 6) AS min_v,
               ROUND(MAX(value), 6) AS max_v
        FROM (
            SELECT value,
                   CAST(LEAST(GREATEST(FLOOR((value - {_HIST_LO}) / {_HIST_WIDTH}),
                                       0), ({_HIST_HI} - {_HIST_LO}) / {_HIST_WIDTH} - 1)
                        AS BIGINT) AS bucket
            FROM events
        )
        GROUP BY bucket
        ORDER BY bucket
    """,
    doc="Fixed-width value histogram with clamped edge buckets: bucket "
    "assignment is a pure projection (scan-bound), one shuffle on the "
    "bounded bucket id. The exact-arithmetic cousin of the "
    "approx_percentile sketch path (10w-a).",
    tags=("relational",),
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    n_buckets = int((_HIST_HI - _HIST_LO) / _HIST_WIDTH)
    bucket = F.least(
        F.greatest(
            F.floor((F.col("value") - _HIST_LO) / _HIST_WIDTH), F.lit(0)
        ),
        F.lit(n_buckets - 1),
    ).cast("long")
    return (
        ev.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("min_v"),
            F.round(F.max("value"), 6).alias("max_v"),
        )
        .select(
            "bucket",
            (F.lit(_HIST_LO) + F.col("bucket") * _HIST_WIDTH).alias("lo"),
            (F.lit(_HIST_LO) + (F.col("bucket") + 1) * _HIST_WIDTH).alias("hi"),
            "n",
            "min_v",
            "max_v",
        )
        .orderBy("bucket")
    )


@register(
    "user_hourly_gapfill",
    oracle="""
        WITH bounds AS (
            SELECT user_id,
                   date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events GROUP BY user_id
        ),
        grid AS (
            SELECT user_id,
                   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ),
        actual AS (
            SELECT user_id, date_trunc('hour', ts) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(value), 2) AS v
            FROM events GROUP BY 1, 2
        )
        SELECT g.user_id,
               CAST(g.hour AS TIMESTAMP) AS hour,
               COALESCE(a.n, 0) AS n_events,
               ROUND(COALESCE(
                   last_value(a.v IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 0.0), 2) AS v_ffill
        FROM grid g LEFT JOIN actual a
          ON a.user_id = g.user_id AND a.hour = g.hour
        ORDER BY g.user_id, hour
    """,
    doc="Hypertable-style hourly gap-fill per user (TimescaleDB "
    "time_bucket_gapfill analog): dense hour grid from each user's "
    "own bounds (sequence+explode, JVM-side), zero-filled counts, "
    "forward-filled hourly value via last_value IGNORE NULLS. Grid "
    "size is users x their own active span — bounded by the "
    "retention window, never a global cross join.",
    tags=("relational", "windows"),
)
def user_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("v"),
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.round(
                F.coalesce(
                    F.last("v", ignorenulls=True).over(w), F.lit(0.0)
                ),
                2,
            ).alias("v_ffill"),
        )
        .orderBy("user_id", "hour")
    )


@register(
    "retention_cohorts",
    oracle="""
        WITH firstday AS (
            SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events
        )
        SELECT CAST(cohort AS TIMESTAMP) AS cohort_day,
               datediff('day', cohort, day) AS day_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM activity JOIN firstday USING (user_id)
        GROUP BY cohort, day_offset
        ORDER BY cohort_day, day_offset
    """,
    doc="Retention cohort matrix: users grouped by first-seen day, "
    "activity counted per day offset. Two aggregations sharing the "
    "user_id shuffle (first-day + distinct active days), then a "
    "cohort rollup — the analytics-team staple for engagement decay.",
    tags=("relational", "sessions"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    firstday = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    activity = ev.distinct()
    return (
        activity.join(firstday, "user_id")
        .groupBy(
            F.col("cohort").cast("timestamp").alias("cohort_day"),
            F.datediff("day", "cohort").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "hourly_value_momentum",
    oracle="""
        WITH h AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                   ROUND(SUM(value), 2) AS v
            FROM events GROUP BY 1
        )
        SELECT hour, v,
               ROUND(v - LAG(v) OVER (ORDER BY hour), 2) AS delta,
               ROUND((v - LAG(v) OVER (ORDER BY hour))
                     / NULLIF(LAG(v) OVER (ORDER BY hour), 0), 6) AS pct_change
        FROM h
        ORDER BY hour
    """,
    doc="Period-over-period deltas on the hourly value series (LAG "
    "with NULLIF guard). The global-order window runs on the ALREADY "
    "AGGREGATED series — one row per hour, bounded by the retention "
    "window — never on raw events, so the single-partition window is "
    "a non-issue at any scale.",
    tags=("relational", "windows"),
)
def hourly_value_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.round(F.sum("value"), 2).alias("v")
    )
    w = Window.orderBy("hour")
    prev = F.lag("v").over(w)
    return (
        hourly.select(
            "hour",
            "v",
            F.round(F.col("v") - prev, 2).alias("delta"),
            F.round(
                (F.col("v") - prev) / F.nullif(prev, F.lit(0)), 6
            ).alias("pct_change"),
        )
        .orderBy("hour")
    )


@register(
    "event_value_regression",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(regr_slope(value, hour(ts)), 6) AS slope,
               ROUND(regr_intercept(value, hour(ts)), 6) AS intercept,
               ROUND(corr(value, hour(ts)), 6) AS r
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Grouped OLS via native regression aggregates: per event type, "
    "slope/intercept of value on hour-of-day plus Pearson r. Single "
    "partial-aggregated shuffle on event_type — regr_*/corr are "
    "algebraic aggregates (sum/sum-of-products moments), so they "
    "map-side combine exactly like SUM at any scale.",
    tags=("relational", "stats"),
)
def event_value_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hr = F.hour("ts")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.regr_slope("value", hr), 6).alias("slope"),
            F.round(F.regr_intercept("value", hr), 6).alias("intercept"),
            F.round(F.corr("value", hr), 6).alias("r"),
        )
        .orderBy("event_type")
    )


@register(
    "source_token_entropy",
    oracle="""
        WITH counts AS (
            SELECT source, tok, COUNT(*) AS n
            FROM (
                SELECT source,
                       unnest(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           t -> t <> '')) AS tok
                FROM documents
            )
            GROUP BY source, tok
        ),
        w AS (
            SELECT source, n,
                   SUM(n) OVER (PARTITION BY source) AS total
            FROM counts
        )
        SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab_size,
               ROUND(SUM(CAST(ROUND(-(1.0 * n / total)
                                    * log2(1.0 * n / total) * 1e9)
                              AS BIGINT)) / 1e9, 6) AS entropy_bits
        FROM w
        GROUP BY source
        ORDER BY source
    """,
    doc="Shannon entropy (bits) of each source's token distribution — "
    "the diversity screen a corpus owner runs per provider (low "
    "entropy flags templated/boilerplate sources). Token counts "
    "aggregate to |sources| x |vocab| rows before the entropy pass; "
    "the per-source total is an analytic sum over those aggregated "
    "rows, so raw tokens shuffle exactly once.",
    tags=("text", "stats", "llm"),
)
def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.functions import text as T

    counts = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(T.tokens_col(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy("source"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        counts.withColumn("total", total)
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            # 1e9 int64 entropy-term codes: float summation order over
            # a vocabulary-sized term set differs across engines (the
            # class that shipped doc_stopword_entropy red in r6).
            F.round(
                F.sum(F.round(-p * F.log2(p) * 1e9).cast("long")) / 1e9, 6
            ).alias("entropy_bits"),
        )
        .orderBy("source")
    )


N_DEPTH_BUCKETS = 10


@register(
    "event_value_equidepth_histogram",
    oracle=f"""
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MIN(value), 2) AS lo,
               ROUND(MAX(value), 2) AS hi
        FROM (
            SELECT value,
                   CAST(ntile({N_DEPTH_BUCKETS}) OVER (
                       ORDER BY value, event_id) AS INTEGER) AS bucket
            FROM events
        )
        GROUP BY bucket
        ORDER BY bucket
    """,
    doc="Equi-depth histogram of event values (NTILE over a "
    "deterministic total order — event_id breaks value ties so both "
    "engines assign identical buckets): the histogram form query "
    "optimizers keep as column statistics, complementing the "
    "fixed-width twin (10ae). The global sort is the cost — the "
    "production form at scale computes bounds via approx_percentile "
    "and buckets map-side; this exact form is the oracle-checkable "
    "ground truth for that.",
    tags=("relational", "stats"),
)
def event_value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "value")
    w = Window.orderBy("value", "event_id")
    return (
        ev.withColumn("bucket", F.ntile(N_DEPTH_BUCKETS).over(w))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


AC_LAGS = (1, 24)


@register(
    "hourly_value_autocorrelation",
    oracle=f"""
        WITH h AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
                   SUM(value) AS v
            FROM events GROUP BY 1
        ),
        lagged AS (
            SELECT v,
                   {', '.join(f'LAG(v, {k}) OVER (ORDER BY hour) AS v_lag{k}' for k in AC_LAGS)}
            FROM h
        )
        SELECT lag, CAST(n AS BIGINT) AS n, ROUND(r, 6) AS autocorr
        FROM (
            {' UNION ALL '.join(
                f"SELECT {k} AS lag, COUNT(v_lag{k}) AS n, corr(v, v_lag{k}) AS r FROM lagged"
                for k in AC_LAGS)}
        )
        ORDER BY lag
    """,
    doc="Seasonality check on the hourly value series: autocorrelation "
    "at lag 1 (momentum) and lag 24 (daily cycle). LAG + corr run on "
    "the ALREADY AGGREGATED hourly series — one row per hour, bounded "
    "by retention — so the global-order window never touches raw "
    "events.",
    tags=("relational", "stats", "windows"),
)
def hourly_value_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.sum("value").alias("v")
    )
    w = Window.orderBy("hour")
    lagged = hourly.select(
        "v", *[F.lag("v", k).over(w).alias(f"v_lag{k}") for k in AC_LAGS]
    )
    parts = [
        lagged.agg(
            F.lit(k).alias("lag"),
            F.count(f"v_lag{k}").alias("n"),
            F.round(F.corr("v", f"v_lag{k}"), 6).alias("autocorr"),
        )
        for k in AC_LAGS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("lag")


# --- dyadic-rational exponential decay score -------------------------------

DECAY_HALF_LIFE_HOURS = 24
_DECAY_MAX_K = 62  # beyond 62 halvings the weight underflows anyway


@register(
    "user_decayed_activity",
    oracle=f"""
        WITH mx AS (SELECT MAX(epoch_us(ts)) AS t_ref FROM events),
        w AS (
            SELECT user_id, value,
                   LEAST(
                       ((SELECT t_ref FROM mx) - epoch_us(ts))
                         // {DECAY_HALF_LIFE_HOURS * 3_600_000_000},
                       {_DECAY_MAX_K}
                   ) AS k
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value / (1::BIGINT << k)), 6) AS decayed_score
        FROM w
        GROUP BY user_id
        ORDER BY decayed_score DESC, user_id
    """,
    doc=f"Time-decayed per-user activity score (recommender recency "
    f"weighting): exponential decay with a {DECAY_HALF_LIFE_HOURS}h "
    "half-life, quantized to whole half-lives so every weight is the "
    "dyadic rational 1/2^k (integer shift — bit-identical across "
    "engines, honoring the no-transcendentals oracle rule; cf. the "
    "streaming k-means decay which runs driver-side). Scan-bound: "
    "one shuffle on user_id, weights computed in the projection.",
    tags=("analytics", "windows"),
)
def user_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    t_ref = ev.agg(F.max(F.unix_micros("ts")).alias("t_ref"))
    half_us = DECAY_HALF_LIFE_HOURS * 3_600_000_000
    # floor division in exact int64 on both engines (// in the oracle,
    # `div` here; double division + CAST would round in DuckDB)
    k = F.least(
        F.expr(f"(t_ref - unix_micros(ts)) div {half_us}"),
        F.lit(_DECAY_MAX_K),
    )
    return (
        ev.crossJoin(F.broadcast(t_ref))
        .select(
            "user_id",
            "value",
            k.cast("int").alias("k"),
        )
        # 1/2^k as an exact int64 shift (shiftleft takes a column only
        # through the SQL-function form)
        .withColumn(
            "wv", F.col("value") / F.expr("shiftleft(1L, k)").cast("double")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("wv"), 6).alias("decayed_score"),
        )
        .select("user_id", "n_events", "decayed_score")
        .orderBy(F.desc("decayed_score"), "user_id")
    )


# --- robust (median/MAD) outlier detection ---------------------------------

MAD_Z_CUTOFF = 3.5
MAD_CONSISTENCY = 0.6745  # Phi^-1(0.75): MAD -> sigma-equivalent


@register(
    "mad_value_outliers",
    oracle=f"""
        WITH med AS (
            SELECT event_type, MEDIAN(value) AS med
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_id, e.event_type, e.value, m.med,
                   ABS(e.value - m.med) AS ad
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, MEDIAN(ad) AS mad FROM dev GROUP BY event_type
        )
        SELECT d.event_id, d.event_type,
               ROUND(d.value, 6) AS value,
               ROUND({MAD_CONSISTENCY} * (d.value - d.med) / m.mad, 6)
                   AS robust_z
        FROM dev d JOIN mad m USING (event_type)
        WHERE m.mad > 0
          AND ABS({MAD_CONSISTENCY} * (d.value - d.med) / m.mad)
                > {MAD_Z_CUTOFF}
        ORDER BY d.event_id
    """,
    doc=f"Robust statistical outliers per event type: modified z-score "
    f"{MAD_CONSISTENCY}*(x-median)/MAD, flagged beyond "
    f"{MAD_Z_CUTOFF} (Iglewicz-Hoaglin). The distribution-free "
    "complement of the k-means distance classifier (task-3 analog "
    "'unusual_activity'): medians resist the very outliers being "
    "hunted, where mean/stddev are dragged by them. Exact interpolated "
    "medians via the same cross-engine percentile machinery as 10w; "
    "the per-type median/MAD tables are GROUP-BY-CARDINALITY-bounded "
    "(5 rows) -> broadcast back over the scan, two passes, no "
    "corpus-sized shuffle.",
    tags=("analytics", "clustering"),
)
def mad_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # both per-type stat tables are bounded and each is consumed by a
    # corpus-sized pass; materialized, the plan is the inherent
    # 3-pass median -> MAD -> output shape (events scans 4 -> 3, and
    # neither stat aggregation ever re-runs) (r11)
    med = (
        ev.groupBy("event_type")
        .agg(F.median("value").alias("med"))
        .localCheckpoint(eager=False)
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.median("ad").alias("mad"))
        .localCheckpoint(eager=False)
    )
    # NULLIF the denominator so a constant-valued type (MAD = 0) yields
    # NULL z instead of an ANSI DIVIDE_BY_ZERO: the mad>0 guard below
    # shares a conjunct with the division, and predicate reordering
    # must not be able to evaluate the division first.
    z = (
        F.lit(MAD_CONSISTENCY)
        * (F.col("value") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where((F.col("mad") > 0) & (F.abs(z) > MAD_Z_CUTOFF))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(z, 6).alias("robust_z"),
        )
        .orderBy("event_id")
    )


# --- population-stability drift monitor ------------------------------------

_PSI_BINS = int((_HIST_HI - _HIST_LO) / _HIST_WIDTH)


def psi_bucket_col() -> Column:
    """The PSI value-binning expression — ONE definition shared by the
    registered batch query and the streaming drift monitor
    (streaming/psi_stream.PsiMonitor), per the SPRT no-inline-twin
    rule (ADVICE r7)."""
    v = F.col("value")
    return F.least(
        F.greatest(F.floor((v - _HIST_LO) / _HIST_WIDTH), F.lit(0)),
        F.lit(_PSI_BINS - 1),
    ).cast("long")


def psi_from_counts(counts: DataFrame) -> DataFrame:
    """PSI per event type from a (event_type, period, bucket, c) count
    grid — the bounded serving tail shared by the batch query (counts
    from one corpus scan) and the streaming monitor (counts maintained
    incrementally). period 0 = reference window, 1 = current."""
    totals = counts.groupBy("event_type", "period").agg(
        F.sum("c").alias("n")
    )
    types = counts.select("event_type").distinct()
    grid = types.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias(
            "bucket"
        ),
    )
    rt = totals.where(F.col("period") == 0).select(
        "event_type", F.col("n").alias("n_ref")
    )
    ut = totals.where(F.col("period") == 1).select(
        "event_type", F.col("n").alias("n_cur")
    )
    rc = counts.where(F.col("period") == 0).select(
        "event_type", "bucket", F.col("c").alias("c_ref")
    )
    uc = counts.where(F.col("period") == 1).select(
        "event_type", "bucket", F.col("c").alias("c_cur")
    )
    p_ref = (F.coalesce("c_ref", F.lit(0)) + 1) / (
        F.col("n_ref") + _PSI_BINS
    ).cast("double")
    p_cur = (F.coalesce("c_cur", F.lit(0)) + 1) / (
        F.col("n_cur") + _PSI_BINS
    ).cast("double")
    return (
        grid.join(rt, "event_type")
        .join(ut, "event_type")
        .join(rc, ["event_type", "bucket"], "left")
        .join(uc, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            (
                (p_cur - p_ref) * F.log(p_cur / p_ref)
            ).alias("term"),
        )
        .groupBy("event_type")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
        .orderBy("event_type")
    )



@register(
    "value_drift_psi",
    oracle=f"""
        WITH rng AS (
            SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
            FROM events
        ),
        labeled AS (
            SELECT event_type,
                   CASE WHEN epoch_us(ts) <
                            (SELECT mn + (mx - mn) // 2 FROM rng)
                        THEN 0 ELSE 1 END AS period,
                   CAST(LEAST(GREATEST(
                       FLOOR((value - {_HIST_LO}) / {_HIST_WIDTH}), 0),
                       {_PSI_BINS - 1}) AS BIGINT) AS bucket
            FROM events
        ),
        counts AS (
            SELECT event_type, period, bucket, COUNT(*) AS c
            FROM labeled GROUP BY 1, 2, 3
        ),
        totals AS (
            SELECT event_type, period, SUM(c) AS n
            FROM counts GROUP BY 1, 2
        ),
        grid AS (
            SELECT t.event_type,
                   b.bucket,
                   (COALESCE(r.c, 0) + 1)
                       / (rt.n + {_PSI_BINS})::DOUBLE AS p_ref,
                   (COALESCE(u.c, 0) + 1)
                       / (ut.n + {_PSI_BINS})::DOUBLE AS p_cur
            FROM (SELECT DISTINCT event_type FROM labeled) t
            CROSS JOIN (
                SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bucket
            ) b
            JOIN totals rt ON rt.event_type = t.event_type AND rt.period = 0
            JOIN totals ut ON ut.event_type = t.event_type AND ut.period = 1
            LEFT JOIN counts r ON r.event_type = t.event_type
                 AND r.bucket = b.bucket AND r.period = 0
            LEFT JOIN counts u ON u.event_type = t.event_type
                 AND u.bucket = b.bucket AND u.period = 1
        )
        SELECT event_type,
               ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi
        FROM grid
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc=f"Population stability index per event type: the value "
    "distribution of the SECOND half of the time range vs the FIRST "
    "(the production drift monitor between a reference window and "
    "live traffic). Laplace-smoothed bin proportions (+1/{bins}) keep "
    "every term finite and the whole computation deterministic — no "
    "epsilon-clamping heuristics. The corpus-sized work is one "
    "scan into a (type, period, bucket) aggregate bounded by "
    f"5 x 2 x {_PSI_BINS} cells; the PSI sum then runs on that "
    "bounded grid only. Conventional reading: psi < 0.1 stable, "
    "> 0.25 action required.",
    tags=("analytics", "validation"),
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    labeled = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.when(
            F.unix_micros("ts") < F.col("mn") + F.expr("(mx - mn) div 2"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("period"),
        psi_bucket_col().alias("bucket"),
    )
    # the (type, period, bucket) grid is bounded (5 x 2 x bins) but
    # feeds FIVE subtrees inside psi_from_counts (types, the two
    # period totals, the two period count slices) — un-materialized,
    # each re-ran the corpus aggregation AND the min/max range scan
    # (10 events scans in the r11 before-plan). One lazy checkpoint
    # makes the whole serving tail grid-bounded: 2 scans (range +
    # label/aggregate), the algorithmic floor. The streaming monitor
    # (29af) hands psi_from_counts its own incrementally-kept grid.
    counts = (
        labeled.groupBy("event_type", "period", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    return psi_from_counts(counts)


# --- CUSUM changepoint detection -------------------------------------------
#
# Exact integer-cent form (round-8 rework, shared with the streaming
# monitor 29ak): the hourly cells carry int64 cent sums, and the
# cumulative deviation is n*prefix_k - k*total — an exact
# decimal(38,0)/HUGEINT integer (the float form summed doubles whose
# order neither engine pins), so the argmax changepoint selection is
# integer-exact and the served statistics divide once at the end.


def cusum_cents_col() -> Column:
    """The exact cent coding of CUSUM's value domain — ONE definition
    shared by the registered batch query and the streaming monitor
    (streaming/cusum_stream.CusumMonitor)."""
    return F.round(F.col("value") * 100).cast("long")


def cusum_hourly_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, hour, x_c) hourly cent-sum grid from one
    events scan — the batch source feeding cusum_from_hourly, shared
    with the segmented-regression consumer (#190)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.sum(cusum_cents_col()).alias("x_c"))


def cusum_from_hourly(cells: DataFrame) -> DataFrame:
    """CUSUM changepoint table from an (event_type, hour, x_c) hourly
    cent-sum grid — the serving tail shared by the batch query (grid
    from one corpus scan) and the streaming monitor (grid maintained
    additively). All windows run on the bounded hourly series; the
    scaled deviation n*prefix - k*total is decimal(38,0)-exact."""
    dec = "decimal(38,0)"
    wp = Window.partitionBy("event_type")
    w_run = wp.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    stats = cells.select(
        "*",
        F.sum("x_c").over(wp).alias("tot"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("x_c").over(w_run).alias("prefix"),
        F.row_number().over(wp.orderBy("hour")).alias("k"),
    )
    cs_scaled = F.abs(
        F.col("n").cast(dec) * F.col("prefix").cast(dec)
        - F.col("k").cast(dec) * F.col("tot").cast(dec)
    )
    ranked = stats.select(
        "event_type", "hour", "n", cs_scaled.alias("cs_s")
    ).withColumn(
        "rk",
        F.row_number().over(
            wp.orderBy(F.col("cs_s").desc(), F.col("hour"))
        ),
    )
    cp = ranked.where(F.col("rk") == 1).select(
        "event_type",
        F.col("hour").alias("changepoint_hour"),
        F.col("n").cast("long").alias("n_hours"),
        F.round(
            F.col("cs_s").cast("double")
            / (F.col("n").cast("double") * 100.0),
            6,
        ).alias("max_abs_cusum"),
    )
    hourly = cells
    return (
        cp.join(hourly, "event_type")
        .groupBy(
            "event_type", "changepoint_hour", "n_hours", "max_abs_cusum"
        )
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("hour") <= F.col("changepoint_hour"),
                        F.col("x_c"),
                    )
                )
                / (
                    100.0
                    * F.count(
                        F.when(
                            F.col("hour") <= F.col("changepoint_hour"), 1
                        )
                    )
                ),
                6,
            ).alias("mean_before"),
            F.when(
                F.count(
                    F.when(F.col("hour") > F.col("changepoint_hour"), 1)
                )
                > 0,
                F.round(
                    F.sum(
                        F.when(
                            F.col("hour") > F.col("changepoint_hour"),
                            F.col("x_c"),
                        )
                    )
                    / (
                        100.0
                        * F.count(
                            F.when(
                                F.col("hour") > F.col("changepoint_hour"),
                                1,
                            )
                        )
                    ),
                    6,
                ),
            ).alias("mean_after"),
        )
        .orderBy("event_type")
    )


# The hourly cells + changepoint CTEs — ONE definition shared by the
# #10an oracle and the segmented-regression oracle (#190,
# plans/analytics5.py), mirroring the shared cusum_from_hourly tail.
CUSUM_CELLS_SQL = """
        hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x_c
            FROM events GROUP BY 1, 2
        )"""

CUSUM_CP_SQL = """
        stats AS (
            SELECT *,
                   SUM(x_c) OVER (PARTITION BY event_type) AS tot,
                   COUNT(*) OVER (PARTITION BY event_type) AS n,
                   SUM(x_c) OVER (
                       PARTITION BY event_type ORDER BY hour
                       ROWS UNBOUNDED PRECEDING) AS prefix,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY hour) AS k
            FROM hourly
        ),
        cusum AS (
            SELECT event_type, hour, n,
                   ABS(CAST(n AS HUGEINT) * prefix
                       - CAST(k AS HUGEINT) * tot) AS cs_s
            FROM stats
        ),
        ranked AS (
            SELECT event_type, hour, n, cs_s,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY cs_s DESC, hour
                   ) AS rk
            FROM cusum
        ),
        cp AS (
            SELECT event_type, hour AS changepoint_hour,
                   CAST(n AS BIGINT) AS n_hours,
                   ROUND(CAST(cs_s AS DOUBLE)
                         / (CAST(n AS DOUBLE) * 100.0), 6) AS max_abs_cusum
            FROM ranked WHERE rk = 1
        )"""


@register(
    "hourly_changepoint_cusum",
    oracle=f"""
        WITH {CUSUM_CELLS_SQL},
        {CUSUM_CP_SQL}
        SELECT c.event_type, c.changepoint_hour, c.n_hours,
               c.max_abs_cusum,
               ROUND(SUM(h.x_c) FILTER (
                       WHERE h.hour <= c.changepoint_hour)
                     / (100.0 * COUNT(*) FILTER (
                       WHERE h.hour <= c.changepoint_hour)), 6)
                   AS mean_before,
               CASE WHEN COUNT(*) FILTER (
                        WHERE h.hour > c.changepoint_hour) > 0 THEN
                   ROUND(SUM(h.x_c) FILTER (
                           WHERE h.hour > c.changepoint_hour)
                         / (100.0 * COUNT(*) FILTER (
                           WHERE h.hour > c.changepoint_hour)), 6)
               END AS mean_after
        FROM cp c JOIN hourly h ON h.event_type = c.event_type
        GROUP BY 1, 2, 3, 4
        ORDER BY c.event_type
    """,
    doc="CUSUM changepoint detection per event type: the hour where "
    "the cumulative deviation from the series mean peaks (the classic "
    "single-changepoint estimator), with before/after level means — "
    "the monitoring question behind 'when did this metric shift'. "
    "The corpus-sized work is the hourly rollup; every window pass "
    "then runs on the BOUNDED aggregated series (hours x types), the "
    "same bounded-series discipline as momentum/autocorrelation. "
    "Round-8 rework: cells are exact int64 cent sums and the peak "
    "statistic is the integer n*prefix - k*total (decimal/HUGEINT), "
    "so changepoint selection is summation-order-proof on both "
    "engines AND the grid merges additively — which is what lets the "
    "streaming monitor (29ak) maintain it per micro-batch and serve "
    "the identical table via the shared cusum_from_hourly tail.",
    tags=("analytics", "temporal"),
)
def hourly_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cusum_from_hourly(cusum_hourly_cells(spark, sf_dir))


# --- per-source token-distribution divergence ------------------------------


@register(
    "source_token_divergence",
    oracle="""
        WITH toks AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(lower(text),
                       '\\s+'), t -> t <> '')) AS tok
            FROM documents
        ),
        sw AS (
            SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
        ),
        vocab AS (
            SELECT tok, SUM(c) AS cq FROM sw GROUP BY tok
        ),
        totals AS (
            SELECT source, SUM(c) AS n FROM sw GROUP BY source
        ),
        corpus AS (SELECT SUM(cq) AS t, COUNT(*) AS v FROM vocab),
        grid AS (
            SELECT s.source, w.tok,
                   (COALESCE(x.c, 0) + 1)
                       / (s.n + c.v)::DOUBLE AS p,
                   (w.cq + 1) / (c.t + c.v)::DOUBLE AS q
            FROM totals s
            CROSS JOIN vocab w
            CROSS JOIN corpus c
            LEFT JOIN sw x ON x.source = s.source AND x.tok = w.tok
        )
        SELECT source,
               ROUND(SUM(0.5 * p * ln(2 * p / (p + q))
                         + 0.5 * q * ln(2 * q / (p + q))), 6)
                   AS js_divergence
        FROM grid
        GROUP BY source
        ORDER BY source
    """,
    doc="Per-source token-distribution drift: Jensen-Shannon "
    "divergence of each source's (Laplace-smoothed) unigram "
    "distribution from the whole-corpus distribution — the screen "
    "that catches a crawl source whose vocabulary shifted before it "
    "contaminates the mixture (complements source_token_entropy's "
    "within-source diversity and corpus_mixture_report's share "
    "drift). The corpus-sized work is one token aggregation; the "
    "smoothing grid is |sources| x |vocab| (both bounded), built by "
    "broadcasting the per-source totals over the vocabulary.",
    tags=("analytics", "llm", "text"),
)
def source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower("text"), "\\s+"), lambda t: t != ""
            )
        ).alias("tok"),
    )
    # the (source, tok) count table feeds the vocabulary rollup, the
    # per-source totals, and the smoothing-grid join — materialized
    # once, the corpus is tokenized once instead of 4x (r11)
    sw = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = sw.groupBy("tok").agg(F.sum("c").alias("cq"))
    totals = sw.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = vocab.agg(
        F.sum("cq").alias("t"), F.count(F.lit(1)).alias("v")
    )
    grid = (
        vocab.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(corpus))
        .join(sw, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            (
                (F.coalesce("c", F.lit(0)) + 1)
                / (F.col("n") + F.col("v")).cast("double")
            ).alias("p"),
            (
                (F.col("cq") + 1) / (F.col("t") + F.col("v")).cast("double")
            ).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    term = 0.5 * p * F.log(2 * p / (p + q)) + 0.5 * q * F.log(
        2 * q / (p + q)
    )
    return (
        grid.groupBy("source")
        .agg(F.round(F.sum(term), 6).alias("js_divergence"))
        .orderBy("source")
    )


# --- winsorized robust mean -------------------------------------------------


@register(
    "winsorized_value_stats",
    oracle="""
        WITH bounds AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS lo,
                   quantile_cont(value, 0.95) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(e.value), 6) AS raw_mean,
               ROUND(AVG(LEAST(GREATEST(e.value, b.lo), b.hi)), 6)
                   AS winsorized_mean,
               ROUND(b.lo, 6) AS p05,
               ROUND(b.hi, 6) AS p95
        FROM events e JOIN bounds b USING (event_type)
        GROUP BY e.event_type, b.lo, b.hi
        ORDER BY e.event_type
    """,
    doc="Winsorized mean per event type (values clipped to the exact "
    "interpolated p05/p95 before averaging) next to the raw mean — "
    "the robust location estimate that, with the MAD outlier table, "
    "completes the robust-stats family: MAD flags the outliers, "
    "winsorization bounds their influence on reported aggregates. "
    "Per-type bounds are group-cardinality-bounded (5 rows) and "
    "broadcast back over the scan; two passes, no corpus-sized "
    "shuffle beyond the percentile aggregation itself.",
    tags=("analytics",),
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("raw_mean"),
            F.round(F.avg(clipped), 6).alias("winsorized_mean"),
        )
        .select(
            "event_type",
            "n",
            "raw_mean",
            "winsorized_mean",
            F.round("lo", 6).alias("p05"),
            F.round("hi", 6).alias("p95"),
        )
        .orderBy("event_type")
    )


# --- A/B experiment analysis ------------------------------------------------

_AB_A, _AB_B = 2_654_435_761 % 2_147_483_647, 0  # Knuth multiplicative


@register(
    "ab_test_report",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   (({_AB_A}::BIGINT * (user_id % 2147483647))
                        % 2147483647) % 2 AS arm,
                   SUM(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END) AS revenue,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1
                            ELSE 0 END) AS converted
            FROM events
            GROUP BY user_id
        ),
        arms AS (
            SELECT arm,
                   COUNT(*) AS n,
                   AVG(revenue) AS mean_rev,
                   VAR_SAMP(revenue) AS var_rev,
                   AVG(converted::DOUBLE) AS conv
            FROM per_user GROUP BY arm
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
                MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
                MAX(CASE WHEN arm = 0 THEN mean_rev END) AS mean_rev_a,
                MAX(CASE WHEN arm = 1 THEN mean_rev END) AS mean_rev_b,
                MAX(CASE WHEN arm = 0 THEN var_rev END) AS var_a,
                MAX(CASE WHEN arm = 1 THEN var_rev END) AS var_b,
                MAX(CASE WHEN arm = 0 THEN conv END) AS conv_a,
                MAX(CASE WHEN arm = 1 THEN conv END) AS conv_b
            FROM arms
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               ROUND(mean_rev_a, 6) AS mean_rev_a,
               ROUND(mean_rev_b, 6) AS mean_rev_b,
               ROUND((mean_rev_a - mean_rev_b)
                     / NULLIF(sqrt(var_a / n_a + var_b / n_b), 0), 6)
                   AS t_welch,
               ROUND(conv_a, 6) AS conv_a,
               ROUND(conv_b, 6) AS conv_b,
               ROUND((conv_a - conv_b) / NULLIF(sqrt(
                   ((conv_a * n_a + conv_b * n_b) / (n_a + n_b))
                   * (1 - (conv_a * n_a + conv_b * n_b) / (n_a + n_b))
                   * (1.0 / n_a + 1.0 / n_b)), 0), 6) AS z_conversion
        FROM wide
    """,
    doc="A/B experiment analysis: users deterministically hash-bucketed "
    "into two arms (multiplicative hash — the same RNG-free assignment "
    "discipline as the train/test split), then revenue-per-user "
    "compared with Welch's t statistic and purchase conversion with "
    "the pooled two-proportion z statistic — the experimentation "
    "readout every product analytics stack ships. Under the null "
    "(hash arms are exchangeable) both statistics should be small; "
    "pinned by pytest. One user_id shuffle to per-user metrics, then "
    "a 2-row arm aggregate; sqrt is IEEE-exact so the oracle "
    "hash-matches.",
    tags=("analytics",),
)
def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    arm = (
        (F.lit(_AB_A) * (F.col("user_id") % F.lit(2_147_483_647)))
        % F.lit(2_147_483_647)
    ) % 2
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(F.lit(0.0))
        ).alias("revenue"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("converted"),
    ).withColumn("arm", arm)
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("revenue").alias("mean_rev"),
        F.var_samp("revenue").alias("var_rev"),
        F.avg(F.col("converted").cast("double")).alias("conv"),
    )

    def pick(col, a):
        return F.max(F.when(F.col("arm") == a, F.col(col)))

    wide = arms.agg(
        pick("n", 0).alias("n_a"),
        pick("n", 1).alias("n_b"),
        pick("mean_rev", 0).alias("mean_rev_a"),
        pick("mean_rev", 1).alias("mean_rev_b"),
        pick("var_rev", 0).alias("var_a"),
        pick("var_rev", 1).alias("var_b"),
        pick("conv", 0).alias("conv_a"),
        pick("conv", 1).alias("conv_b"),
    )
    pooled = (
        F.col("conv_a") * F.col("n_a") + F.col("conv_b") * F.col("n_b")
    ) / (F.col("n_a") + F.col("n_b"))
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("mean_rev_a", 6).alias("mean_rev_a"),
        F.round("mean_rev_b", 6).alias("mean_rev_b"),
        # NULLIF guards: a degenerate arm (zero variance / pooled
        # conversion of exactly 0 or 1) makes the statistic undefined —
        # NULL on both engines, never a divide-by-zero (ANSI throws)
        F.round(
            (F.col("mean_rev_a") - F.col("mean_rev_b"))
            / F.nullif(
                F.sqrt(
                    F.col("var_a") / F.col("n_a")
                    + F.col("var_b") / F.col("n_b")
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("t_welch"),
        F.round("conv_a", 6).alias("conv_a"),
        F.round("conv_b", 6).alias("conv_b"),
        F.round(
            (F.col("conv_a") - F.col("conv_b"))
            / F.nullif(
                F.sqrt(
                    pooled
                    * (1 - pooled)
                    * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z_conversion"),
    )


# --- shuffle-key skew advisor ----------------------------------------------


def _skew_branch_sql(key: str, expr: str) -> str:
    return f"""
        SELECT '{key}' AS key_col,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS top_key_rows,
               ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_share,
               ROUND(quantile_cont(c::DOUBLE, 0.99)
                     / NULLIF(MEDIAN(c::DOUBLE), 0), 6) AS p99_over_med
        FROM (
            SELECT {expr} AS k, COUNT(*) AS c
            FROM events WHERE {expr} IS NOT NULL GROUP BY 1
        )
    """


@register(
    "join_key_skew_report",
    oracle="\nUNION ALL\n".join(
        _skew_branch_sql(k, e)
        for k, e in (
            ("user_id", "user_id::VARCHAR"),
            ("event_type", "event_type"),
            (
                "props_k",
                "NULLIF(regexp_extract(props,"
                " '\"k\":\\s*\"?([^,}\"]+)\"?', 1), '')",
            ),
        )
    )
    + "\nORDER BY key_col",
    doc="Shuffle-key skew advisor: for each candidate join/aggregation "
    "key on events — distinct count, heaviest key's row count and "
    "share, and the p99/median frequency ratio. This is the "
    "diagnostic that DECIDES the scale strategy the engine already "
    "implements: near-uniform keys (ratio ~1) shuffle plainly, a fat "
    "head (high top_share) routes to salted aggregation/join "
    "(operators/skew.py) or AQE skew-split. Per-key branches are "
    "group-cardinality-bounded aggregates unioned into one report.",
    tags=("analytics", "validation", "scale"),
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.tables import props_k_col

    ev = table(spark, sf_dir, "events")
    # ONE events scan (r11): the three per-key branches each re-scanned
    # the table; a map-side explode emits one (key_col, k) row per
    # candidate key per event, so the single (key_col, k) aggregation
    # shuffles exactly the union of what the three branch shuffles
    # carried, off one scan.
    kv = (
        ev.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("user_id").alias("key_col"),
                        F.col("user_id").cast("string").alias("k"),
                    ),
                    F.struct(
                        F.lit("event_type").alias("key_col"),
                        F.col("event_type").alias("k"),
                    ),
                    F.struct(
                        F.lit("props_k").alias("key_col"),
                        props_k_col().alias("k"),
                    ),
                )
            ).alias("r")
        )
        .select("r.key_col", "r.k")
        .where(F.col("k").isNotNull())
    )
    # the per-branch SCALAR aggregate tail is kept (a key column with
    # no rows still emits its all-zero/NULL summary row, matching the
    # declared per-branch SQL on degenerate slices); the branches now
    # read the one materialized bounded count grid instead of each
    # re-scanning events.
    counts = (
        kv.groupBy("key_col", "k")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    branches = []
    for key in ("user_id", "event_type", "props_k"):
        branches.append(
            counts.where(F.col("key_col") == key).agg(
                F.lit(key).alias("key_col"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.max("c").alias("top_key_rows"),
                F.round(
                    F.max("c").cast("double") / F.sum("c"), 6
                ).alias("top_share"),
                F.round(
                    F.percentile(F.col("c").cast("double"), F.lit(0.99))
                    / F.nullif(
                        F.median(F.col("c").cast("double")), F.lit(0.0)
                    ),
                    6,
                ).alias("p99_over_med"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out.orderBy("key_col")


# --- activity concentration (Gini) -----------------------------------------


@register(
    "activity_gini",
    oracle="""
        WITH per_user AS (
            SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT c,
                   ROW_NUMBER() OVER (ORDER BY c, user_id) AS i,
                   COUNT(*) OVER () AS n,
                   SUM(c) OVER () AS tot
            FROM per_user
        )
        SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n_users,
               CAST(ANY_VALUE(tot) AS BIGINT) AS n_events,
               ROUND(2.0 * SUM(i * c) / (ANY_VALUE(n) * ANY_VALUE(tot))
                     - (ANY_VALUE(n) + 1.0) / ANY_VALUE(n), 6) AS gini
        FROM ranked
    """,
    doc="Gini coefficient of per-user event-count concentration (the "
    "sorted-rank identity G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n): 0 = "
    "perfectly even activity, ->1 = a few users generate everything. "
    "The population-level companion of the per-key skew advisor — "
    "skew tells you the heaviest KEY, Gini tells you how heavy the "
    "whole tail is (whether salting one key suffices or the "
    "distribution itself is pathological). The corpus-sized work is "
    "one user_id aggregation; ranking runs on the bounded per-user "
    "counts.",
    tags=("analytics", "scale"),
)
def activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    ranked = per_user.select(
        "c",
        F.row_number().over(Window.orderBy("c", "user_id")).alias("i"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("n_events"),
        F.round(
            2.0
            * F.sum(F.col("i") * F.col("c"))
            / (F.count(F.lit(1)) * F.sum("c"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# --- inter-arrival time profile --------------------------------------------


@register(
    "interarrival_profile",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY epoch_us(ts), event_id
                   )) / 1000000.0 AS gap_s
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
               ROUND(MEDIAN(gap_s), 6) AS p50_s,
               ROUND(quantile_cont(gap_s, 0.9), 6) AS p90_s,
               ROUND(AVG(gap_s), 6) AS mean_s
        FROM gaps
        WHERE gap_s IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Inter-arrival time profile: per event type, the distribution "
    "(p50/p90/mean seconds) of gaps between a user's consecutive "
    "events of that type — the cadence diagnostic behind session-gap "
    "and window-size choices (a 30 min session gap or 6 h window is "
    "only right relative to these numbers). One (user,type) window "
    "pass for LAG, then an exact-percentile aggregate per type; the "
    "same cross-engine interpolation contract as 10w.",
    tags=("analytics", "temporal", "windows"),
)
def interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    gaps = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    ).select(
        "event_type",
        (
            (F.col("ts_us") - F.lag("ts_us").over(w)) / 1_000_000.0
        ).alias("gap_s"),
    )
    return (
        gaps.where(F.col("gap_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.median("gap_s"), 6).alias("p50_s"),
            F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_s"),
            F.round(F.avg("gap_s"), 6).alias("mean_s"),
        )
        .orderBy("event_type")
    )


# --- two-sample Kolmogorov-Smirnov drift ------------------------------------


@register(
    "value_drift_ks",
    oracle="""
        WITH labeled AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   CASE WHEN epoch_us(ts) <
                            (SELECT MIN(epoch_us(ts))
                                 + (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
                                   // 2
                             FROM events)
                        THEN 0 ELSE 1 END AS period
            FROM events
        ),
        pts AS (
            SELECT event_type, cents,
                   COUNT(*) FILTER (WHERE period = 0) AS c0,
                   COUNT(*) FILTER (WHERE period = 1) AS c1
            FROM labeled GROUP BY event_type, cents
        ),
        totals AS (
            SELECT event_type, SUM(c0) AS n0, SUM(c1) AS n1
            FROM pts GROUP BY event_type
        ),
        ecdf AS (
            SELECT p.event_type,
                   SUM(p.c0) OVER (
                       PARTITION BY p.event_type ORDER BY p.cents
                       ROWS UNBOUNDED PRECEDING
                   )::DOUBLE / NULLIF(t.n0, 0) AS f0,
                   SUM(p.c1) OVER (
                       PARTITION BY p.event_type ORDER BY p.cents
                       ROWS UNBOUNDED PRECEDING
                   )::DOUBLE / NULLIF(t.n1, 0) AS f1,
                   t.n0, t.n1
            FROM pts p JOIN totals t USING (event_type)
        )
        SELECT event_type,
               CAST(ANY_VALUE(n0) AS BIGINT) AS n_ref,
               CAST(ANY_VALUE(n1) AS BIGINT) AS n_cur,
               ROUND(MAX(ABS(f0 - f1)), 6) AS ks_stat,
               ROUND(MAX(ABS(f0 - f1))
                     / sqrt((ANY_VALUE(n0) + ANY_VALUE(n1))::DOUBLE
                            / NULLIF(ANY_VALUE(n0) * ANY_VALUE(n1), 0)), 6)
                   AS ks_scaled
        FROM ecdf
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Exact two-sample Kolmogorov-Smirnov drift per event type "
    "(second half of the time range vs first): D = sup |F_ref - "
    "F_cur| over the observed support, computed from running ECDF "
    "sums over the (type, value)-aggregated points — binning-free, "
    "so it catches distribution shifts PSI's fixed buckets smear "
    "out; ks_scaled = D/sqrt((n+m)/nm) is the statistic compared to "
    "the Kolmogorov critical values (1.36 ~ alpha 0.05). The "
    "corpus-sized work is one aggregation to distinct (type, value) "
    "points; the ECDF windows run on that bounded support.",
    tags=("analytics", "validation"),
)
def value_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-8 rework: the grid is the SAME (event_type, cents, c1, c2)
    # cell shape the W1 drift query and the streaming monitor (29ah)
    # maintain, and the ECDF/sup-distance tail is the SHARED
    # ks_from_cells — one state, two drift statistics. Values are
    # cent-granular, so the cents grid is a bijection of the old
    # raw-value grid.
    from mvrs_dspa_spark.plans.analytics4 import ks_from_cells, w1_cents_col

    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    labeled = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        w1_cents_col().alias("cents"),
        F.when(
            F.unix_micros("ts") < F.col("mn") + F.expr("(mx - mn) div 2"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("period"),
    )
    # the bounded cents grid feeds two subtrees inside ks_from_cells;
    # materialized once, the serving tail is grid-bounded and events
    # is scanned twice (range + label/aggregate — the floor), not 4x
    # (r11; the streaming monitor hands its own maintained grid)
    cells = (
        labeled.groupBy("event_type", "cents")
        .agg(
            F.count_if(F.col("period") == 0).alias("c1"),
            F.count_if(F.col("period") == 1).alias("c2"),
        )
        .localCheckpoint(eager=False)
    )
    return ks_from_cells(cells)


# --- RFM customer segmentation ---------------------------------------------

RFM_QS = (0.2, 0.4, 0.6, 0.8)  # quintile edges


@register(
    "user_rfm_segments",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST((SELECT MAX(epoch_us(ts)) // 86400000000 FROM events)
                        - MAX(epoch_us(ts)) // 86400000000 AS BIGINT)
                       AS recency_days,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   ROUND(SUM(value), 2) AS monetary
            FROM events GROUP BY user_id
        ),
        edges AS (
            SELECT quantile_cont(recency_days, [{", ".join(map(str, RFM_QS))}]) AS re,
                   quantile_cont(frequency,   [{", ".join(map(str, RFM_QS))}]) AS fe,
                   quantile_cont(monetary,    [{", ".join(map(str, RFM_QS))}]) AS me
            FROM per_user
        )
        SELECT user_id, recency_days, frequency, monetary,
               CAST(5 - ((recency_days > re[1])::INT + (recency_days > re[2])::INT
                       + (recency_days > re[3])::INT + (recency_days > re[4])::INT)
                    AS INT) AS r_score,
               CAST(1 + ((frequency > fe[1])::INT + (frequency > fe[2])::INT
                       + (frequency > fe[3])::INT + (frequency > fe[4])::INT)
                    AS INT) AS f_score,
               CAST(1 + ((monetary > me[1])::INT + (monetary > me[2])::INT
                       + (monetary > me[3])::INT + (monetary > me[4])::INT)
                    AS INT) AS m_score
        FROM per_user, edges
        ORDER BY user_id
    """,
    doc="RFM segmentation (recency/frequency/monetary quintile scores "
    "per user). Scale posture: scores come from comparing each user "
    "against the exact interpolated quintile EDGES (a 1-row broadcast "
    "from the same cross-engine percentile machinery as 10w) — NOT "
    "from a global NTILE, whose single-partition total sort is "
    "exactly what dies first at a billion users. One shuffle (the "
    "user aggregate); everything after is scan-bound column math.",
    tags=("analytics",),
)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # the per-user sufficient-statistic table feeds three subtrees in
    # the scoring tail (the now scalar, the quintile edges, the scored
    # output) — materialized once, events is scanned once instead of
    # 4x (r11; the streaming maintainer hands the tail its own
    # incrementally-merged stats)
    stats = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("value").alias("monetary_sum"),
        )
        .localCheckpoint(eager=False)
    )
    return rfm_scores_from_stats(stats).orderBy("user_id")


def rfm_scores_from_stats(stats: DataFrame) -> DataFrame:
    """RFM quintile scoring from per-user sufficient statistics
    (user_id, last_us, frequency, monetary_sum) — shared by the batch
    query above and the streaming maintainer
    (`streaming/rfm_stream.py`), whose foreachBatch merge keeps
    exactly these three decomposable aggregates (max / sum / sum)."""
    now = stats.agg(F.max("last_us").alias("now_us"))
    day_us = 86_400_000_000
    per_user = (
        stats.crossJoin(F.broadcast(now))
        .select(
            "user_id",
            (
                F.floor(F.col("now_us") / day_us)
                - F.floor(F.col("last_us") / day_us)
            ).alias("recency_days"),
            "frequency",
            F.round(F.col("monetary_sum"), 2).alias("monetary"),
        )
    )
    qs = F.array(*[F.lit(q) for q in RFM_QS])
    edges = per_user.agg(
        F.percentile("recency_days", qs).alias("re"),
        F.percentile("frequency", qs).alias("fe"),
        F.percentile("monetary", qs).alias("me"),
    )

    def score(col: str, edge: str, reverse: bool) -> Column:
        above = sum(
            (F.col(col) > F.element_at(edge, i + 1)).cast("int")
            for i in range(len(RFM_QS))
        )
        return (F.lit(5) - above if reverse else F.lit(1) + above).cast("int")

    return per_user.crossJoin(F.broadcast(edges)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        score("recency_days", "re", reverse=True).alias("r_score"),
        score("frequency", "fe", reverse=False).alias("f_score"),
        score("monetary", "me", reverse=False).alias("m_score"),
    )


# --- chi-square independence: event type x day-of-week ---------------------


@register(
    "event_dow_chisq",
    oracle="""
        WITH obs AS (
            SELECT event_type,
                   CAST(dayofweek(ts) AS BIGINT) AS dow,
                   COUNT(*) AS o
            FROM events GROUP BY 1, 2
        ),
        margins AS (
            SELECT o.event_type, o.dow, o.o,
                   SUM(o.o) OVER (PARTITION BY o.event_type) AS row_n,
                   SUM(o.o) OVER (PARTITION BY o.dow) AS col_n,
                   SUM(o.o) OVER () AS n
            FROM obs o
        )
        SELECT event_type,
               CAST(SUM(o) AS BIGINT) AS n_events,
               ROUND(SUM(CAST(ROUND(pow(o - row_n * col_n / n::DOUBLE, 2)
                                    / (row_n * col_n / n::DOUBLE) * 1e9)
                              AS BIGINT)) / 1e9, 6) AS chisq_term
        FROM margins
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Chi-square independence screen: is event-type mix stable "
    "across days of the week? Per-type contribution sum((O-E)^2/E) "
    "over the 5x7 contingency table (dof 24; compare the total "
    "against the chi-square critical values). The corpus-sized work "
    "is ONE contingency aggregation (35 cells); margins and terms run "
    "on the bounded table via windows — the cells-not-rows shape that "
    "survives 100x. The workhorse behind seasonality checks and "
    "train/serve segment-mix validation.",
    tags=("analytics", "validation"),
)
def event_dow_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    total = obs.agg(F.sum("o").alias("n"))
    margins = obs.select(
        "event_type",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_n"),
        F.sum("o").over(Window.partitionBy("dow")).alias("col_n"),
    ).crossJoin(F.broadcast(total))
    e = F.col("row_n") * F.col("col_n") / F.col("n").cast("double")
    return (
        margins.groupBy("event_type")
        .agg(
            F.sum("o").cast("long").alias("n_events"),
            # 1e9 int64 term codes (house float-summation-order rule).
            F.round(
                F.sum(
                    F.round(
                        F.pow(F.col("o") - e, F.lit(2.0)) / e * 1e9
                    ).cast("long")
                )
                / 1e9,
                6,
            ).alias("chisq_term"),
        )
        .orderBy("event_type")
    )


# --- CDC MERGE with deletes -------------------------------------------------


@register(
    "cdc_merge_apply",
    oracle="""
        WITH rng AS (
            SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
            FROM events
        ),
        ranked AS (
            SELECT user_id, event_type, value, event_id,
                   CASE WHEN epoch_us(ts) <
                            (SELECT mn + (mx - mn) // 2 FROM rng)
                        THEN 0 ELSE 1 END AS period,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id,
                           CASE WHEN epoch_us(ts) <
                                    (SELECT mn + (mx - mn) // 2 FROM rng)
                                THEN 0 ELSE 1 END
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ),
        latest AS (
            SELECT user_id,
                   MAX(CASE WHEN period = 0 THEN event_id END) AS base_id,
                   MAX(CASE WHEN period = 0 THEN ROUND(value, 2) END)
                       AS base_value,
                   MAX(CASE WHEN period = 1 THEN event_id END) AS delta_id,
                   MAX(CASE WHEN period = 1 THEN ROUND(value, 2) END)
                       AS delta_value,
                   MAX(CASE WHEN period = 1 THEN event_type END) AS delta_op
            FROM ranked WHERE rn = 1 GROUP BY user_id
        )
        SELECT user_id,
               CASE WHEN delta_id IS NULL THEN 'unchanged'
                    WHEN base_id IS NULL THEN 'inserted'
                    ELSE 'updated' END AS merge_action,
               CASE WHEN delta_id IS NULL THEN base_value
                    ELSE delta_value END AS current_value,
               CAST(COALESCE(delta_id, base_id) AS BIGINT) AS current_id
        FROM latest
        WHERE delta_op IS DISTINCT FROM 'error'
        ORDER BY user_id
    """,
    doc="MERGE INTO with deletes (the Delta/Iceberg idiom the "
    "upsert-only latest_events_snapshot lacks): the first half of the "
    "event log is the base table (latest row per user), the second "
    "half is the CDC feed — a user's latest delta event upserts their "
    "row, except event_type='error' which acts as the tombstone and "
    "DELETES the user from the merged state. All three MERGE actions "
    "(insert / update / delete) plus untouched base rows fall out of "
    "ONE ranked window over one scan — no base-vs-delta self-join, "
    "one shuffle on (user, period), deterministic (ts, event_id) "
    "ordering on both engines.",
    tags=("relational", "temporal"),
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    period = F.when(
        F.unix_micros("ts") < F.col("mn") + F.expr("(mx - mn) div 2"),
        F.lit(0),
    ).otherwise(F.lit(1))
    labeled = ev.crossJoin(F.broadcast(rng)).select(
        "user_id", "event_type", "value", "event_id", "ts",
        period.alias("period"),
    )
    w = Window.partitionBy("user_id", "period").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = labeled.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    p0 = F.col("period") == 0
    latest = ranked.groupBy("user_id").agg(
        F.max(F.when(p0, F.col("event_id"))).alias("base_id"),
        F.max(F.when(p0, F.round("value", 2))).alias("base_value"),
        F.max(F.when(~p0, F.col("event_id"))).alias("delta_id"),
        F.max(F.when(~p0, F.round("value", 2))).alias("delta_value"),
        F.max(F.when(~p0, F.col("event_type"))).alias("delta_op"),
    )
    action = (
        F.when(F.col("delta_id").isNull(), F.lit("unchanged"))
        .when(F.col("base_id").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
    )
    return (
        latest.where(
            ~F.col("delta_op").eqNullSafe(F.lit("error"))  # tombstones out
        )
        .select(
            "user_id",
            action.alias("merge_action"),
            F.when(F.col("delta_id").isNull(), F.col("base_value"))
            .otherwise(F.col("delta_value"))
            .alias("current_value"),
            F.coalesce("delta_id", "base_id").alias("current_id"),
        )
        .orderBy("user_id")
    )


# --- time-series lead-lag cross-correlation --------------------------------

XCORR_MAX_LAG = 2  # hours each side


@register(
    "hourly_crosscorr_leadlag",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 AS h,
                   SUM(value) AS v
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
                   a.v AS va, b.v AS vb
            FROM hourly a
            JOIN (SELECT unnest(generate_series(
                      -{XCORR_MAX_LAG}, {XCORR_MAX_LAG})) AS lag) l ON true
            JOIN hourly b
              ON b.event_type > a.event_type AND b.h = a.h + l.lag
        ),
        scored AS (
            SELECT type_a, type_b, lag,
                   ROUND(corr(va, vb), 6) AS xcorr,
                   COUNT(*) AS n_hours
            FROM lagged GROUP BY 1, 2, 3
        )
        SELECT type_a, type_b, CAST(lag AS INT) AS best_lag, xcorr,
               CAST(n_hours AS BIGINT) AS n_hours
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY type_a, type_b
                ORDER BY ABS(xcorr) DESC NULLS LAST, lag
            ) AS rn
            FROM scored
        )
        WHERE rn = 1
        ORDER BY type_a, type_b
    """,
    doc="Lead-lag cross-correlation between event-type hourly series "
    "(the streaming time-series similarity-search shape, cf. EDBT'19 "
    "distributed TS similarity): for each type pair, corr at lags "
    f"-{XCORR_MAX_LAG}..+{XCORR_MAX_LAG} hours, best lag by |corr| "
    "with deterministic tiebreak — 'errors lead purchases by 1 hour' "
    "style diagnostics. Corpus-sized work is ONE hourly aggregation; "
    "the lag fan-out and correlation run on the bounded (types x "
    "hours) table, so 100x the events changes nothing downstream of "
    "the first shuffle.",
    tags=("analytics", "temporal"),
)
def hourly_crosscorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.sum("value").alias("v"))
    lags = spark.range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = hourly.alias("a")
    b = hourly.alias("b")
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") > F.col("a.event_type"))
            & (F.col("b.h") == F.col("a.h") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            "lag",
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
    )
    scored = lagged.groupBy("type_a", "type_b", "lag").agg(
        F.round(F.corr("va", "vb"), 6).alias("xcorr"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    # explicit NULLS LAST: a constant series yields NULL corr, and the
    # two engines must rank it identically
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.abs(F.col("xcorr")).desc_nulls_last(), F.col("lag")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "type_a",
            "type_b",
            F.col("lag").alias("best_lag"),
            "xcorr",
            "n_hours",
        )
        .orderBy("type_a", "type_b")
    )


# --- SCD2 state history -----------------------------------------------------


@register(
    "user_state_history",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type AS state, ts, event_id,
                   LAG(event_type) OVER w AS prev_state
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        changes AS (
            SELECT user_id, state, ts AS valid_from
            FROM ordered
            WHERE prev_state IS NULL OR state <> prev_state
        )
        SELECT user_id, state, valid_from,
               LEAD(valid_from) OVER w2 AS valid_to,
               (LEAD(valid_from) OVER w2 IS NULL) AS is_current,
               CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
        ORDER BY user_id, valid_from
    """,
    doc="SCD2 dimension build (slowly-changing-dimension type 2): the "
    "event log compacted into per-user validity intervals of their "
    "event-type state — consecutive same-state events collapse, each "
    "state change opens a [valid_from, valid_to) version row, the "
    "open row is flagged current. The warehousing primitive that "
    "point-in-time (as-of) joins consume; the as-of operator itself "
    "is #10t. One shuffle on user_id, both windows reuse it; "
    "deterministic (ts, event_id) ordering on both engines.",
    tags=("relational", "temporal"),
)
def user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return state_intervals(ev).orderBy("user_id", "valid_from")


def state_intervals(ev: DataFrame) -> DataFrame:
    """SCD2 validity intervals of per-user event-type state, un-ordered —
    shared by the registered `user_state_history` surface and the
    point-in-time join (`plans/analytics2.point_in_time_state_join`),
    which consumes the intervals under a join where any sort would be
    discarded anyway."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .where(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select("user_id", "state", F.col("ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
        F.row_number().over(w2).cast("long").alias("version"),
    )


# --- sequence pattern matching (MATCH_RECOGNIZE analog) ---------------------

# c=click e=error p=purchase s=signup v=view
EVENT_PATTERN = "ce+p"  # click, 1+ errors, then purchase: error-struggle buy


@register(
    "event_pattern_matches",
    oracle=f"""
        WITH seqs AS (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(seq) AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(seq, '{EVENT_PATTERN}'))
                    AS BIGINT) AS n_matches
        FROM seqs
        WHERE regexp_matches(seq, '{EVENT_PATTERN}')
        ORDER BY user_id
    """,
    doc="Batch row-pattern matching (SQL-2016 MATCH_RECOGNIZE / "
    "Flink-CEP batch analog, complementing the streaming CEP funnel "
    f"29u): users whose ordered event sequence matches '{EVENT_PATTERN}' "
    "(click, one-or-more errors, then purchase — the error-struggle "
    "conversion), with the non-overlapping match count. Each user's "
    "history compresses to a single type-initial STRING once (ordered "
    "collect, one shuffle) and the pattern runs as a regex over that "
    "string — per-user state is bytes, the regex engine does the NFA "
    "work, and any regex over the event alphabet is expressible "
    "without new operator code.",
    tags=("analytics", "temporal"),
)
def event_pattern_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # (ts, event_id, chr) structs sort lexicographically = ORDER BY
    # ts, event_id; the initial rides along
    item = F.struct(
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("i"),
        F.substring("event_type", 1, 1).alias("c"),
    )
    seqs = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(item)).alias("items"))
        .select(
            "user_id",
            F.array_join(
                F.transform(F.col("items"), lambda x: x["c"]), ""
            ).alias("seq"),
        )
    )
    return (
        seqs.where(F.col("seq").rlike(EVENT_PATTERN))
        .select(
            "user_id",
            F.length("seq").cast("long").alias("n_events"),
            F.regexp_count(F.col("seq"), F.lit(EVENT_PATTERN))
            .cast("long")
            .alias("n_matches"),
        )
        .orderBy("user_id")
    )
