"""Big-big interval (range) join via bucket quantization (SURVEY §2a).

A theta join `r.ts IN [l.ts - W, l.ts)` between two LARGE inputs is
the one join shape Catalyst has no shuffle strategy for: with no
equality predicate it falls back to BroadcastNestedLoopJoin, which is
O(|L|·|R|) work and requires one whole side in memory — a
non-starter at 100 TB. The classic rewrite quantizes time into
buckets exactly W wide: a right row lives in one bucket, a left row's
window spans exactly two adjacent buckets, so probing both turns the
theta join into an equi-join on (key, bucket) — shuffle-partitionable,
AQE-skew-splittable, 2x row amplification on the probe side only,
followed by the exact range filter. Candidate volume is bounded by
per-(key, bucket) density, the same bound the reference's keyed
process-function state would hold (cf. Flink intervalJoin; the
streaming twin is `streaming/joins.interval_join`).

Because bucket width == window width, `floor((t-W)/W) == floor(t/W)-1`
always: the two probed buckets are distinct and a candidate pair can
only meet in the right row's single home bucket — no dedup pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

WINDOW_MS = 3_600_000  # 1 hour


def bucketed_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Pairs where `right_ts` falls in `[left_ts - window, left_ts)`,
    as an equi-join on (key, time bucket). Inputs must not share other
    column names."""
    w = F.lit(WINDOW_MS)
    lb = F.unix_millis(F.col(left_ts))
    r = right.withColumn("_bucket", F.floor(F.unix_millis(F.col(right_ts)) / w))
    l = left.withColumn(
        "_bucket",
        F.explode(F.sequence(F.floor((lb - w) / w), F.floor(lb / w))),
    )
    return (
        l.join(r, [key, "_bucket"])
        .where(
            (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {WINDOW_MS // 1000} SECONDS"))
            & (F.col(right_ts) < F.col(left_ts))
        )
        .drop("_bucket")
    )


@register(
    "error_purchase_precursor_join",
    oracle="""
        SELECT e.event_id AS error_id,
               p.event_id AS purchase_id,
               e.user_id,
               ROUND(date_diff('millisecond', p.ts, e.ts) / 60000.0, 6)
                   AS lag_minutes
        FROM events e
        JOIN events p
          ON e.user_id = p.user_id
         AND p.ts >= e.ts - INTERVAL 1 HOUR
         AND p.ts < e.ts
        WHERE e.event_type = 'error' AND p.event_type = 'purchase'
        ORDER BY error_id, purchase_id
    """,
    doc="Purchases in the hour before each same-user error — a big-big "
    "interval join executed as an equi-join on (user_id, 1h bucket) "
    "with a 2-bucket probe, not BroadcastNestedLoop (plan-verified).",
    tags=("relational", "range-join"),
)
def error_purchase_precursor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("e_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withColumnRenamed("p_user", "user_id")
    pairs = bucketed_interval_join(
        errors, purchases, key="user_id", left_ts="e_ts", right_ts="p_ts"
    )
    lag_min = (F.unix_millis(F.col("e_ts")) - F.unix_millis(F.col("p_ts"))) / 60000.0
    return pairs.select(
        "error_id",
        "purchase_id",
        "user_id",
        F.round(lag_min, 6).alias("lag_minutes"),
    ).orderBy("error_id", "purchase_id")
