"""Gap-based sessionization (SURVEY §2b #13).

Batch analog of event-time session windows (the streaming variant
uses ``F.session_window`` — see `streaming/windowed.py`). Classic
two-pass window-function formulation: lag to detect gaps, running
sum of gap flags to number sessions, then one aggregation. Shuffles
once on the key; both passes share the (user_id, ts) sort, so
Catalyst plans a single exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.config import settings
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

GAP_MINUTES = settings.sessions.gap_minutes  # ref-analog tunable
GAP_US = GAP_MINUTES * 60_000_000


def sessionize(df: DataFrame) -> DataFrame:
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = df.select(
        F.col("user_id"), F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    )
    flagged = base.withColumn(
        "new_session",
        (
            F.col("ts_us") - F.lag("ts_us").over(order) > F.lit(GAP_US)
        ).cast("int"),
    ).withColumn(
        "session_seq",
        F.sum(F.coalesce("new_session", F.lit(1))).over(
            Window.partitionBy("user_id")
            .orderBy("ts_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.timestamp_micros(F.min("ts_us")).alias("session_start"),
            F.timestamp_micros(F.max("ts_us")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@register(
    "user_sessions",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id,
                   epoch_us(ts) AS ts_us,
                   event_id,
                   value,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {GAP_US}
                        THEN 1
                        WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ),
        numbered AS (
            SELECT *,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_seq
            FROM flagged
        )
        SELECT user_id,
               CAST(session_seq AS BIGINT) AS session_seq,
               make_timestamp(MIN(ts_us)) AS session_start,
               make_timestamp(MAX(ts_us)) AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM numbered
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
    """,
    doc=f"Gap-based sessions per user ({GAP_MINUTES} min inactivity gap).",
    tags=("windows",),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(table(spark, sf_dir, "events"))


@register(
    "session_conversion",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id,
                   epoch_us(ts) AS ts_us,
                   event_id,
                   event_type,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {GAP_US}
                        THEN 1
                        WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ),
        numbered AS (
            SELECT *,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_seq
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_seq,
                   MIN(ts_us) FILTER (WHERE event_type = 'click')
                       AS first_click,
                   MAX(ts_us) FILTER (WHERE event_type = 'purchase')
                       AS last_purchase
            FROM numbered GROUP BY 1, 2
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(count_if(first_click IS NOT NULL) AS BIGINT)
                   AS n_with_click,
               CAST(count_if(first_click IS NOT NULL
                             AND last_purchase >= first_click) AS BIGINT)
                   AS n_converted,
               ROUND(1.0 * count_if(first_click IS NOT NULL
                                    AND last_purchase >= first_click)
                     / NULLIF(count_if(first_click IS NOT NULL), 0), 6)
                   AS conversion_rate
        FROM per_session
    """,
    doc="Within-session funnel conversion: a session converts when a "
    "purchase occurs at/after its first click. Composes the same "
    "gap-sessionization window as user_sessions (shared shuffle "
    "shape), then conditional per-session aggregates and one global "
    "rollup row — the e-commerce KPI atop the sessionizer.",
    tags=("windows", "sessions"),
)
def session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    flagged = base.withColumn(
        "new_session",
        (F.col("ts_us") - F.lag("ts_us").over(order) > F.lit(GAP_US)).cast(
            "int"
        ),
    ).withColumn(
        "session_seq",
        F.sum(F.coalesce("new_session", F.lit(1))).over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_session = flagged.groupBy("user_id", "session_seq").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts_us"))).alias(
            "first_click"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("last_purchase"),
    )
    clicked = F.col("first_click").isNotNull()
    converted = clicked & (F.col("last_purchase") >= F.col("first_click"))
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_if(clicked).alias("n_with_click"),
        F.count_if(converted).alias("n_converted"),
        F.round(
            F.count_if(converted).cast("double")
            / F.nullif(F.count_if(clicked), F.lit(0)),
            6,
        ).alias("conversion_rate"),
    )


@register(
    "session_attribution",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id,
                   epoch_us(ts) AS ts_us,
                   event_id,
                   event_type,
                   value,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {GAP_US}
                        THEN 1
                        WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ),
        numbered AS (
            SELECT *,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_seq
            FROM flagged
        ),
        touched AS (
            SELECT *,
                   FIRST_VALUE(event_type) OVER (
                       PARTITION BY user_id, session_seq
                       ORDER BY ts_us, event_id
                   ) AS first_touch
            FROM numbered
        ),
        per_session AS (
            SELECT user_id, session_seq,
                   ANY_VALUE(first_touch) AS first_touch,
                   SUM(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END) AS revenue
            FROM touched GROUP BY 1, 2
        )
        SELECT first_touch,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               ROUND(SUM(revenue), 2) AS attributed_revenue
        FROM per_session
        GROUP BY first_touch
        ORDER BY first_touch
    """,
    doc="First-touch attribution: every session's purchase revenue is "
    "credited to the event type that OPENED the session (the "
    "acquisition-channel question). Composes the shared gap-session "
    "numbering, adds a first_value window over the derived session "
    "key — all three window passes and the session aggregate share "
    "the one user_id exchange — then a 5-row channel rollup.",
    tags=("windows", "sessions"),
)
def session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    numbered = base.withColumn(
        "new_session",
        (F.col("ts_us") - F.lag("ts_us").over(order) > F.lit(GAP_US)).cast(
            "int"
        ),
    ).withColumn(
        "session_seq",
        F.sum(F.coalesce("new_session", F.lit(1))).over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sess_order = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts_us", "event_id"
    )
    per_session = (
        numbered.withColumn(
            "first_touch", F.first("event_type").over(sess_order)
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.any_value("first_touch").alias("first_touch"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(F.lit(0.0))
            ).alias("revenue"),
        )
    )
    return (
        per_session.groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.sum("revenue"), 2).alias("attributed_revenue"),
        )
        .orderBy("first_touch")
    )


FUNNEL_HORIZON_US = 7 * 86_400_000_000  # 7 days between steps


@register(
    "multi_step_funnel",
    oracle=f"""
        WITH base AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        ),
        s1 AS (
            SELECT *,
                   MIN(CASE WHEN event_type = 'signup' THEN ts_us END)
                       OVER (PARTITION BY user_id) AS t1
            FROM base
        ),
        s2 AS (
            SELECT *,
                   MIN(CASE WHEN event_type = 'click' AND ts_us >= t1
                             AND ts_us <= t1 + {FUNNEL_HORIZON_US}
                            THEN ts_us END)
                       OVER (PARTITION BY user_id) AS t2
            FROM s1
        ),
        s3 AS (
            SELECT *,
                   MIN(CASE WHEN event_type = 'purchase' AND ts_us >= t2
                             AND ts_us <= t2 + {FUNNEL_HORIZON_US}
                            THEN ts_us END)
                       OVER (PARTITION BY user_id) AS t3
            FROM s2
        ),
        per_user AS (
            SELECT user_id, ANY_VALUE(t1) AS t1, ANY_VALUE(t2) AS t2,
                   ANY_VALUE(t3) AS t3
            FROM s3 GROUP BY user_id
        ),
        counts AS (
            SELECT CAST(count_if(t1 IS NOT NULL) AS BIGINT) AS n1,
                   CAST(count_if(t2 IS NOT NULL) AS BIGINT) AS n2,
                   CAST(count_if(t3 IS NOT NULL) AS BIGINT) AS n3
            FROM per_user
        )
        SELECT step, n_users, ROUND(conversion, 6) AS conversion
        FROM (
            SELECT 1 AS ord, 'signup' AS step, n1 AS n_users,
                   CAST(NULL AS DOUBLE) AS conversion FROM counts
            UNION ALL
            SELECT 2, 'click', n2, 1.0 * n2 / NULLIF(n1, 0) FROM counts
            UNION ALL
            SELECT 3, 'purchase', n3, 1.0 * n3 / NULLIF(n2, 0) FROM counts
        )
        ORDER BY ord
    """,
    doc="Multi-step ordered funnel: signup -> first click within 7 "
    "days -> first purchase within 7 days of that click, with "
    "step-over-step conversion rates — the product-analytics funnel "
    "proper (ordered, time-bounded steps), vs session_conversion's "
    "within-session variant and user_journey_paths' unordered "
    "frequencies. Three chained MIN windows share ONE user_id "
    "exchange; each step's window references the previous step's "
    "result, so ordering constraints never become joins.",
    tags=("windows", "sessions", "analytics"),
)
def multi_step_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    wu = Window.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts_us"))
    ).over(wu)
    s1 = base.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts_us") >= F.col("t1"))
            & (F.col("ts_us") <= F.col("t1") + FUNNEL_HORIZON_US),
            F.col("ts_us"),
        )
    ).over(wu)
    s2 = s1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts_us") >= F.col("t2"))
            & (F.col("ts_us") <= F.col("t2") + FUNNEL_HORIZON_US),
            F.col("ts_us"),
        )
    ).over(wu)
    per_user = (
        s2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.any_value("t1").alias("t1"),
            F.any_value("t2").alias("t2"),
            F.any_value("t3").alias("t3"),
        )
    )
    counts = per_user.agg(
        F.count_if(F.col("t1").isNotNull()).alias("n1"),
        F.count_if(F.col("t2").isNotNull()).alias("n2"),
        F.count_if(F.col("t3").isNotNull()).alias("n3"),
    )
    # one events scan (r11): the three report rows explode out of the
    # single counts row instead of three union branches that each
    # replayed the whole windowed funnel pipeline
    steps = []
    for ord_, step, n, prev in (
        (1, "signup", "n1", None),
        (2, "click", "n2", "n1"),
        (3, "purchase", "n3", "n2"),
    ):
        conv = (
            F.lit(None).cast("double")
            if prev is None
            else F.round(
                F.col(n).cast("double") / F.nullif(F.col(prev), F.lit(0)), 6
            )
        )
        steps.append(
            F.struct(
                F.lit(ord_).alias("ord"),
                F.lit(step).alias("step"),
                F.col(n).alias("n_users"),
                conv.alias("conversion"),
            )
        )
    return (
        counts.select(F.explode(F.array(*steps)).alias("r"))
        .select("r.*")
        .orderBy("ord")
        .select("step", "n_users", "conversion")
    )
