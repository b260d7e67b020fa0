"""Round-7 analytics wave (SURVEY §2 #163+): purchase-cadence islands,
pricing economics, experimentation sequels, and OLS influence
diagnostics over the TPC-H-ish and events tables.

House determinism discipline throughout: money as exact int64 cent
codes summed before one final division; any float produced by a
transcendental or a multi-term product is rounded to a 1e6/1e9 int64
code BEFORE a SUM (tests/test_transcendental_sums.py lints the class);
ranks/cutoffs order by already-rounded values with unique tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000

# --- order batching (gaps-and-islands on purchase cadence) -------------------

_BATCH_GAP_DAYS = 30
_BATCH_TOP_N = 100


@register(
    "order_batch_windows",
    oracle=f"""
        WITH o AS (
            SELECT o_custkey AS custkey, o_orderkey,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        flagged AS (
            SELECT *,
                   CASE WHEN day - LAG(day) OVER w > {_BATCH_GAP_DAYS}
                        THEN 1 ELSE 0 END AS brk
            FROM o
            WINDOW w AS (PARTITION BY custkey ORDER BY day, o_orderkey)
        ),
        batched AS (
            SELECT *,
                   SUM(brk) OVER (
                       PARTITION BY custkey
                       ORDER BY day, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS batch_seq
            FROM flagged
        ),
        batches AS (
            SELECT custkey, CAST(batch_seq AS BIGINT) AS batch_seq,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   MAX(day) - MIN(day) AS span_days,
                   SUM(cents) AS total_cents
            FROM batched GROUP BY custkey, batch_seq
        )
        SELECT custkey, batch_seq, n_orders, span_days,
               ROUND(total_cents / 100.0, 2) AS total_value
        FROM batches
        ORDER BY total_cents DESC, custkey, batch_seq
        LIMIT {_BATCH_TOP_N}
    """,
    doc="Purchase-cadence batching: a customer's orders split into "
    "'batches' wherever the gap between consecutive orders exceeds "
    f"{_BATCH_GAP_DAYS} days (gaps-and-islands via LAG + running sum "
    "of break flags — the session window idiom applied to the orders "
    f"fact), then the top {_BATCH_TOP_N} batches by exact cent total. "
    "Everything is partitioned by custkey: one shuffle, windows and "
    "the batch aggregate ride it; the top-N orders by the exact "
    "integer total with a unique (custkey, batch_seq) tiebreak so "
    "both engines pick the identical row set.",
    tags=("analytics", "windows", "tpch"),
)
def order_batch_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("custkey").orderBy("day", "o_orderkey")
    flagged = o.withColumn(
        "brk",
        F.when(
            F.col("day") - F.lag("day").over(w) > _BATCH_GAP_DAYS, 1
        ).otherwise(0),
    )
    batched = flagged.withColumn(
        "batch_seq",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        batched.groupBy("custkey", "batch_seq")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.max("day") - F.min("day")).alias("span_days"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy(F.desc("total_cents"), "custkey", "batch_seq")
        .limit(_BATCH_TOP_N)
        .select(
            "custkey",
            "batch_seq",
            "n_orders",
            "span_days",
            F.round(F.col("total_cents") / 100.0, 2).alias("total_value"),
        )
    )


# --- discount lift ------------------------------------------------------------


@register(
    "lineitem_discount_lift",
    oracle="""
        WITH banded AS (
            SELECT CAST(ROUND(l_discount * 100) AS INTEGER) AS discount_pct,
                   CAST(ROUND(l_quantity) AS BIGINT) AS qty,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem
        ),
        bands AS (
            SELECT discount_pct,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   SUM(qty) AS sq,
                   SUM(cents) AS sc
            FROM banded GROUP BY discount_pct
        ),
        based AS (
            SELECT *,
                   MAX(CASE WHEN discount_pct = 0 THEN sq END) OVER ()
                       AS base_sq,
                   MAX(CASE WHEN discount_pct = 0 THEN n_items END) OVER ()
                       AS base_n
            FROM bands
        )
        SELECT discount_pct, n_items,
               ROUND(sq / (1.0 * n_items), 6) AS avg_qty,
               ROUND(sc / (100.0 * n_items), 2) AS avg_revenue,
               CASE WHEN base_sq IS NOT NULL AND base_sq > 0 THEN
                   ROUND((sq / (1.0 * n_items))
                         / (base_sq / (1.0 * base_n)) - 1.0, 6)
               END AS qty_lift_vs_no_discount
        FROM based
        ORDER BY discount_pct
    """,
    doc="Discount-band demand lift: per integer discount percent, "
    "order-line count, average quantity and revenue, and the average-"
    "quantity lift against the zero-discount baseline — the merch "
    "analyst's first read on whether discounts move volume. One "
    "aggregation to an 11-row band table (quantity summed as exact "
    "integers, money as cent codes); the baseline joins back as an "
    "analytic MAX over the bounded band table, so there is exactly "
    "one corpus-sized shuffle.",
    tags=("analytics", "tpch"),
)
def lineitem_discount_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100)
        .cast("int")
        .alias("discount_pct"),
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    bands = li.groupBy("discount_pct").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("qty").alias("sq"),
        F.sum("cents").alias("sc"),
    )
    w = Window.partitionBy()
    based = bands.select(
        "*",
        F.max(
            F.when(F.col("discount_pct") == 0, F.col("sq"))
        ).over(w).alias("base_sq"),
        F.max(
            F.when(F.col("discount_pct") == 0, F.col("n_items"))
        ).over(w).alias("base_n"),
    )
    return (
        based.select(
            "discount_pct",
            "n_items",
            F.round(F.col("sq") / (1.0 * F.col("n_items")), 6).alias(
                "avg_qty"
            ),
            F.round(F.col("sc") / (100.0 * F.col("n_items")), 2).alias(
                "avg_revenue"
            ),
            F.when(
                F.col("base_sq").isNotNull() & (F.col("base_sq") > 0),
                F.round(
                    (F.col("sq") / (1.0 * F.col("n_items")))
                    / (F.col("base_sq") / (1.0 * F.col("base_n")))
                    - 1.0,
                    6,
                ),
            ).alias("qty_lift_vs_no_discount"),
        )
        .orderBy("discount_pct")
    )


# --- cohort LTV curves --------------------------------------------------------


@register(
    "cohort_ltv_curves",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, event_type,
                   epoch_us(ts) // {_DAY_US} AS day,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        cohorts AS (
            SELECT user_id, MIN(day) AS cohort_day
            FROM ev GROUP BY user_id
        ),
        sizes AS (
            SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_users
            FROM cohorts GROUP BY cohort_day
        ),
        rev AS (
            SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
                   SUM(e.cents) AS rev_cents
            FROM ev e JOIN cohorts c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase'
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT cohort_day, day_offset, rev_cents,
                   SUM(rev_cents) OVER (
                       PARTITION BY cohort_day ORDER BY day_offset
                       ROWS UNBOUNDED PRECEDING) AS cum_cents
            FROM rev
        )
        SELECT m.cohort_day, m.day_offset, s.cohort_users,
               ROUND(m.rev_cents / 100.0, 2) AS revenue,
               ROUND(m.cum_cents / (100.0 * s.cohort_users), 6)
                   AS cum_ltv_per_user
        FROM cum m JOIN sizes s USING (cohort_day)
        ORDER BY cohort_day, day_offset
    """,
    doc="Cumulative lifetime-value curves per signup cohort: users "
    "cohort on their first-seen day; purchase revenue (exact cent "
    "codes) aggregates per (cohort, day-offset) and accumulates along "
    "the offset axis, normalized by cohort size — the growth team's "
    "payback-period readout, the revenue twin of the retention cohort "
    "matrix (10ag). Two corpus-sized passes (first-seen reduction, "
    "purchase rollup) both shuffle on user_id; the cumulative window "
    "runs on the bounded cohort x offset grid.",
    tags=("analytics", "windows"),
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # the user-bounded cohort table feeds both the size rollup and the
    # revenue join; materialized once, events is scanned twice
    # (cohort pass + purchase pass), not 3x (r11)
    cohorts = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
        .localCheckpoint(eager=False)
    )
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = Window.partitionBy("cohort_day").orderBy("day_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = rev.withColumn("cum_cents", F.sum("rev_cents").over(w))
    return (
        cum.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "cohort_users",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            F.round(
                F.col("cum_cents") / (100.0 * F.col("cohort_users")), 6
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_day", "day_offset")
    )


# --- T-learner uplift ---------------------------------------------------------

_AB_A = 2_654_435_761 % 2_147_483_647  # Knuth multiplicative (ab_test_report)


@register(
    "uplift_model_tlearner",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   (({_AB_A}::BIGINT * (user_id % 2147483647))
                        % 2147483647) % 2 AS arm,
                   LEAST(SUM(CASE WHEN event_type = 'click'
                                  THEN 1 ELSE 0 END), 4) AS stratum,
                   SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(ROUND(value * 100) AS BIGINT)
                            ELSE 0 END) AS rev_cents
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT stratum, arm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(rev_cents) AS sc
            FROM per_user GROUP BY stratum, arm
        ),
        wide AS (
            SELECT stratum,
                   MAX(CASE WHEN arm = 1 THEN n END) AS n_treated,
                   MAX(CASE WHEN arm = 0 THEN n END) AS n_control,
                   MAX(CASE WHEN arm = 1 THEN sc END) AS sc_t,
                   MAX(CASE WHEN arm = 0 THEN sc END) AS sc_c
            FROM cells GROUP BY stratum
        )
        SELECT CAST(stratum AS BIGINT) AS stratum, n_treated, n_control,
               CASE WHEN n_treated > 0
                    THEN ROUND(sc_t / (100.0 * n_treated), 6) END
                   AS mean_rev_treated,
               CASE WHEN n_control > 0
                    THEN ROUND(sc_c / (100.0 * n_control), 6) END
                   AS mean_rev_control,
               CASE WHEN n_treated > 0 AND n_control > 0 THEN
                   ROUND(sc_t / (100.0 * n_treated)
                         - sc_c / (100.0 * n_control), 6)
               END AS uplift
        FROM wide
        ORDER BY stratum
    """,
    doc="T-learner uplift estimate (Künzel et al. 2019 meta-learner "
    "taxonomy): deterministic hash-bucketed treatment/control arms, "
    "outcome models mu1/mu0 fit as per-stratum means of purchase "
    "revenue (strata = click-count capped at 4, the engagement "
    "covariate), uplift(x) = mu1(x) - mu0(x) per stratum. The "
    "heterogeneous-treatment-effect sequel to ab_test_report (10ap) "
    "and ab_test_cuped (#160). One user-grain aggregation (cent "
    "codes, exact ints), then everything runs on the 5x2 cell grid.",
    tags=("analytics", "stats"),
)
def uplift_model_tlearner(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.least(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)),
            F.lit(4),
        ).alias("stratum"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("rev_cents"),
    ).select(
        "*",
        (
            (F.lit(_AB_A) * (F.col("user_id") % 2147483647)) % 2147483647
            % 2
        ).alias("arm"),
    )
    cells = per_user.groupBy("stratum", "arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("rev_cents").alias("sc")
    )
    wide = cells.groupBy("stratum").agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_treated"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_control"),
        F.max(F.when(F.col("arm") == 1, F.col("sc"))).alias("sc_t"),
        F.max(F.when(F.col("arm") == 0, F.col("sc"))).alias("sc_c"),
    )
    mean_t = F.col("sc_t") / (100.0 * F.col("n_treated"))
    mean_c = F.col("sc_c") / (100.0 * F.col("n_control"))
    return (
        wide.select(
            F.col("stratum").cast("long").alias("stratum"),
            "n_treated",
            "n_control",
            F.when(F.col("n_treated") > 0, F.round(mean_t, 6)).alias(
                "mean_rev_treated"
            ),
            F.when(F.col("n_control") > 0, F.round(mean_c, 6)).alias(
                "mean_rev_control"
            ),
            F.when(
                (F.col("n_treated") > 0) & (F.col("n_control") > 0),
                F.round(mean_t - mean_c, 6),
            ).alias("uplift"),
        )
        .orderBy("stratum")
    )


# --- sequential A/B monitoring (Wald SPRT) ------------------------------------

# Design constants of the sequential test (fixed BEFORE the data is
# seen, as SPRT requires): H0 conversion p0=0.18 vs H1 p1=0.22,
# alpha = beta = 0.05. Per-trial log-likelihood-ratio increments are
# precomputed HOST-side as 1e9 int64 codes (no transcendental runs in
# either engine — the house rule for rank-discount-style constants).
_SPRT_SUCC_CODE = 200_670_695  # round(1e9 * ln(0.22/0.18))
_SPRT_FAIL_CODE = -50_010_421  # round(1e9 * ln(0.78/0.82))
_SPRT_BOUND_CODE = 2_944_438_979  # round(1e9 * ln((1-beta)/alpha)) = ln 19


# ONE definition of the experiment's measurement surface, shared by the
# registered batch query below and the streaming monitor
# (streaming/sprt_stream.SprtMonitor) — an edit to the arm hash, day
# bucketing, or success predicate changes BOTH engines together, so the
# batch==stream equality pin can't silently diverge (ADVICE r7).


def sprt_arm_filter() -> Column:
    """Treatment-arm membership: the same deterministic affine user
    hash the fixed-horizon tests (10ap, #160) bucket with."""
    return (
        (F.lit(_AB_A) * (F.col("user_id") % 2147483647)) % 2147483647
    ) % 2 == 1


def sprt_day_col() -> Column:
    return F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day")


def sprt_success_col() -> Column:
    return (
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("success")
    )


def sprt_decision_table(daily: DataFrame) -> DataFrame:
    """Cumulative int-code LLR + Wald decision over a
    (day, n_trials, n_success) grid — the serving tail shared by the
    batch query and the streaming monitor's report()."""
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.withColumn(
        "llr_code",
        F.sum(
            F.col("n_success") * _SPRT_SUCC_CODE
            + (F.col("n_trials") - F.col("n_success")) * _SPRT_FAIL_CODE
        ).over(w),
    )
    return cum.select(
        "day",
        "n_trials",
        "n_success",
        F.round(F.col("llr_code") / 1e9, 6).alias("llr"),
        F.when(F.col("llr_code") >= _SPRT_BOUND_CODE, "accept_h1")
        .when(F.col("llr_code") <= -_SPRT_BOUND_CODE, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("day")


@register(
    "sequential_ab_sprt",
    oracle=f"""
        WITH trials AS (
            SELECT epoch_us(ts) // {_DAY_US} AS day,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS success
            FROM events
            WHERE (({_AB_A}::BIGINT * (user_id % 2147483647))
                       % 2147483647) % 2 = 1
        ),
        daily AS (
            SELECT day,
                   CAST(COUNT(*) AS BIGINT) AS n_trials,
                   CAST(SUM(success) AS BIGINT) AS n_success
            FROM trials GROUP BY day
        ),
        cum AS (
            SELECT day, n_trials, n_success,
                   SUM(n_success * {_SPRT_SUCC_CODE}
                       + (n_trials - n_success) * {_SPRT_FAIL_CODE})
                       OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                       AS llr_code
            FROM daily
        )
        SELECT day, n_trials, n_success,
               ROUND(llr_code / 1e9, 6) AS llr,
               CASE WHEN llr_code >= {_SPRT_BOUND_CODE} THEN 'accept_h1'
                    WHEN llr_code <= -{_SPRT_BOUND_CODE} THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM cum
        ORDER BY day
    """,
    doc="Wald sequential probability ratio test (Wald 1945) monitoring "
    "the treatment arm's conversion rate day by day — the "
    "peeking-safe sequential companion to the fixed-horizon t-test "
    "(10ap): cumulative log-likelihood ratio of H1 (p=0.22) vs H0 "
    "(p=0.18) with alpha=beta=0.05 decision boundaries at ±ln 19. "
    "Per-trial LLR increments are host-precomputed 1e9 int64 codes, "
    "so the cumulative window sums exact integers (summation-order "
    "free) and both engines cross boundaries on identical days. One "
    "corpus pass to daily trial counts; the scan is over the bounded "
    "day series.",
    tags=("analytics", "stats"),
)
def sequential_ab_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    trials = ev.where(sprt_arm_filter()).select(
        sprt_day_col(), sprt_success_col()
    )
    daily = trials.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_trials"),
        F.sum("success").alias("n_success"),
    )
    return sprt_decision_table(daily)


# --- EWMA hourly forecast backtest ---------------------------------------------

_EWMA_WINDOW = 48  # trailing hours feeding each forecast
# alpha = 0.5: weight of the observation k hours back is 2^-(k+1) — an
# exact dyadic rational, so each (cents * weight) product is exact in
# double; terms are still 1e6-int-coded before the SUM because the
# truncated tail renormalization below is not dyadic.
_EWMA_NORM = 1.0 - 0.5**_EWMA_WINDOW  # sum of the truncated weights


@register(
    "ewma_hourly_forecast",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type,
                   epoch_us(ts) // {_HOUR_US} AS hour,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY 1, 2
        ),
        offsets AS (SELECT unnest(generate_series(1, {_EWMA_WINDOW})) AS k),
        terms AS (
            SELECT h.event_type, h.hour + o.k AS target_hour,
                   CAST(ROUND(h.cents * pow(2.0, -o.k)
                              / {_EWMA_NORM!r} * 1e6 / 100.0) AS BIGINT)
                       AS term_code
            FROM hourly h CROSS JOIN offsets o
        ),
        fc AS (
            SELECT event_type, target_hour,
                   SUM(term_code) AS fc_code
            FROM terms GROUP BY 1, 2
        )
        SELECT h.event_type, h.hour,
               ROUND(h.cents / 100.0, 2) AS actual_value,
               ROUND(f.fc_code / 1e6, 6) AS ewma_forecast,
               ROUND(abs(h.cents * 10000 - f.fc_code) / 1e6, 6)
                   AS abs_error
        FROM hourly h JOIN fc f
          ON f.event_type = h.event_type AND f.target_hour = h.hour
        ORDER BY h.event_type, h.hour
    """,
    doc="One-step-ahead EWMA forecast backtest per event type "
    "(exponential smoothing, alpha=0.5, the level component of "
    "Holt-Winters): the forecast for hour h is the truncated-"
    f"renormalized sum of the prior {_EWMA_WINDOW} hours' revenue "
    "weighted 2^-(k+1) — expressed not as a sequential recurrence "
    "(which doesn't distribute) but as a bounded offset fan-out: the "
    "hourly rollup (tiny) explodes x48 and re-aggregates, so the "
    "corpus-sized work is ONE hourly aggregation and missing hours "
    "contribute exactly zero without explicit gap-fill. Weight "
    "products are exact-dyadic scaled and 1e6-int-coded before the "
    "SUM (summation-order free). Reports actual, forecast, and "
    "absolute error per (type, hour). Coverage semantics (ADVICE "
    "r7): the backtest INNER-joins actuals to forecasts, so an hour "
    "with revenue but no data anywhere in its trailing "
    f"{_EWMA_WINDOW}-hour window (notably each type's first hour) "
    "has no forecast and is EXCLUDED from the output — a backtest "
    "row means 'a forecast existed and was scored', never a "
    "NULL-forecast placeholder.",
    tags=("analytics", "windows"),
)
def ewma_hourly_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hour"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    offsets = F.explode(
        F.array(*[F.lit(k) for k in range(1, _EWMA_WINDOW + 1)])
    ).alias("k")
    terms = hourly.select("event_type", "hour", "cents", offsets).select(
        "event_type",
        (F.col("hour") + F.col("k")).alias("target_hour"),
        F.round(
            F.col("cents")
            * F.pow(F.lit(2.0), -F.col("k").cast("double"))
            / _EWMA_NORM
            * 1e6
            / 100.0
        )
        .cast("long")
        .alias("term_code"),
    )
    fc = (
        terms.groupBy("event_type", "target_hour")
        .agg(F.sum("term_code").alias("fc_code"))
        .select(
            F.col("event_type").alias("fc_type"),
            "target_hour",
            "fc_code",
        )
    )
    return (
        hourly.join(
            fc,
            (F.col("fc_type") == F.col("event_type"))
            & (F.col("target_hour") == F.col("hour")),
        )
        .select(
            "event_type",
            "hour",
            F.round(F.col("cents") / 100.0, 2).alias("actual_value"),
            # 6-decimal rounds are the identity on the x/1e6 rationals
            # (no half-case ambiguity); the error subtraction runs in
            # exact integer code space before the one division.
            F.round(F.col("fc_code") / 1e6, 6).alias("ewma_forecast"),
            F.round(
                F.abs(F.col("cents") * 10000 - F.col("fc_code")) / 1e6, 6
            ).alias("abs_error"),
        )
        .orderBy("event_type", "hour")
    )


# --- OLS influence diagnostics (Cook's distance) --------------------------------

_INFL_TOP_N = 20


@register(
    "influence_functions_lr",
    oracle="""
        WITH pts AS (
            SELECT event_id, event_type,
                   CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS x,
                   CAST(ROUND(value * 100) AS BIGINT) AS y
            FROM events
        ),
        stats AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(x * x) AS sxx,
                   SUM(y) AS sy, SUM(x * y) AS sxy,
                   SUM(y * y) AS syy
            FROM pts GROUP BY event_type
        ),
        fit AS (
            SELECT event_type, n, sx, sy,
                   (1.0 * n * sxy - 1.0 * sx * sy)
                       / (1.0 * n * sxx - 1.0 * sx * sx) AS b,
                   (1.0 * sxx - 1.0 * sx * sx / n) AS sxx_c,
                   ((1.0 * syy - 1.0 * sy * sy / n)
                    - ((1.0 * n * sxy - 1.0 * sx * sy)
                       / (1.0 * n * sxx - 1.0 * sx * sx))
                      * (1.0 * sxy - 1.0 * sx * sy / n)) / (n - 2)
                       AS s2
            FROM stats
            WHERE n > 2 AND 1.0 * n * sxx - 1.0 * sx * sx > 0
        ),
        diag AS (
            SELECT p.event_id, p.event_type, p.x,
                   p.y - ((f.sy - f.b * f.sx) / f.n + f.b * p.x) AS e,
                   1.0 / f.n
                       + (p.x - 1.0 * f.sx / f.n)
                         * (p.x - 1.0 * f.sx / f.n) / f.sxx_c AS h,
                   f.s2
            FROM pts p JOIN fit f ON f.event_type = p.event_type
        )
        SELECT event_id, event_type, CAST(x AS BIGINT) AS hour_of_day,
               ROUND(e / 100.0, 2) AS residual,
               ROUND(h, 6) AS leverage,
               ROUND(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6)
                   AS cooks_d
        FROM diag
        WHERE s2 > 0 AND h < 1.0
        ORDER BY ROUND(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6)
                     DESC,
                 event_id
        LIMIT 20
    """,
    doc="OLS influence diagnostics (Cook 1977): regress event value "
    "(cents) on hour-of-day per event type, then score every point's "
    "leverage h_i and Cook's distance from the CLOSED-FORM sufficient "
    "statistics (n, sum x, sum x^2, sum y, sum xy, sum y^2 — all "
    "exact int64 sums, so slope/SSE are deterministic single-shot "
    "floats, never a float accumulation). The empirical influence "
    "function of the fit: the top-20 most fit-distorting events, the "
    "data-valuation / label-noise screen regression teams run before "
    "trusting a trend. Corpus-sized work is one sufficient-stats "
    "aggregation + one broadcast join back; ranking orders by the "
    "ROUNDED score with event_id tiebreak (house rank rule).",
    tags=("analytics", "stats", "llm"),
)
def influence_functions_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    stats = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    b = (1.0 * F.col("n") * F.col("sxy") - 1.0 * F.col("sx") * F.col("sy")) / (
        1.0 * F.col("n") * F.col("sxx") - 1.0 * F.col("sx") * F.col("sx")
    )
    fit = (
        stats.where(
            (F.col("n") > 2)
            & (
                1.0 * F.col("n") * F.col("sxx")
                - 1.0 * F.col("sx") * F.col("sx")
                > 0
            )
        )
        .select(
            "event_type",
            "n",
            "sx",
            "sy",
            b.alias("b"),
            (
                1.0 * F.col("sxx")
                - 1.0 * F.col("sx") * F.col("sx") / F.col("n")
            ).alias("sxx_c"),
            (
                (
                    1.0 * F.col("syy")
                    - 1.0 * F.col("sy") * F.col("sy") / F.col("n")
                )
                - b
                * (
                    1.0 * F.col("sxy")
                    - 1.0 * F.col("sx") * F.col("sy") / F.col("n")
                )
            ).alias("s2_num"),
        )
        .select(
            "event_type",
            "n",
            "sx",
            "sy",
            "b",
            "sxx_c",
            (F.col("s2_num") / (F.col("n") - 2)).alias("s2"),
        )
    )
    e = F.col("y") - (
        (F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")
        + F.col("b") * F.col("x")
    )
    h = (
        1.0 / F.col("n")
        + (F.col("x") - 1.0 * F.col("sx") / F.col("n"))
        * (F.col("x") - 1.0 * F.col("sx") / F.col("n"))
        / F.col("sxx_c")
    )
    cooks = (
        F.col("e")
        * F.col("e")
        * F.col("h")
        / (2.0 * F.col("s2") * (1.0 - F.col("h")) * (1.0 - F.col("h")))
    )
    diag = pts.join(F.broadcast(fit), "event_type").select(
        "event_id",
        "event_type",
        F.col("x").alias("hour_of_day"),
        e.alias("e"),
        h.alias("h"),
        "s2",
    )
    return (
        diag.where((F.col("s2") > 0) & (F.col("h") < 1.0))
        .select(
            "event_id",
            "event_type",
            "hour_of_day",
            F.round(F.col("e") / 100.0, 2).alias("residual"),
            F.round("h", 6).alias("leverage"),
            F.round(cooks, 6).alias("cooks_d"),
        )
        .orderBy(F.desc("cooks_d"), "event_id")
        .limit(_INFL_TOP_N)
    )


# --- Laspeyres / Paasche / Fisher price indexes ---------------------------------


@register(
    "price_index_laspeyres",
    oracle="""
        WITH py AS (
            SELECT l_partkey AS partkey,
                   year(o_orderdate) AS yr,
                   SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents,
                   SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            GROUP BY 1, 2
        ),
        base AS (
            SELECT partkey, cents AS cents0, qty AS qty0
            FROM py WHERE yr = (SELECT MIN(yr) FROM py)
        ),
        matched AS (
            SELECT p.yr,
                   CAST(ROUND(1e2 * (1.0 * p.cents / p.qty) * b.qty0)
                        AS BIGINT) AS lasp_num_code,
                   CAST(ROUND(1e2 * (1.0 * b.cents0 / b.qty0) * b.qty0)
                        AS BIGINT) AS lasp_den_code,
                   CAST(ROUND(1e2 * (1.0 * p.cents / p.qty) * p.qty)
                        AS BIGINT) AS paas_num_code,
                   CAST(ROUND(1e2 * (1.0 * b.cents0 / b.qty0) * p.qty)
                        AS BIGINT) AS paas_den_code
            FROM py p JOIN base b USING (partkey)
            WHERE p.qty > 0 AND b.qty0 > 0
        )
        SELECT yr AS year,
               CAST(COUNT(*) AS BIGINT) AS n_matched_parts,
               ROUND(SUM(lasp_num_code) / (1.0 * SUM(lasp_den_code)), 6)
                   AS laspeyres,
               ROUND(SUM(paas_num_code) / (1.0 * SUM(paas_den_code)), 6)
                   AS paasche,
               ROUND(sqrt((SUM(lasp_num_code) / (1.0 * SUM(lasp_den_code)))
                          * (SUM(paas_num_code)
                             / (1.0 * SUM(paas_den_code)))), 6) AS fisher
        FROM matched
        GROUP BY yr
        ORDER BY yr
    """,
    doc="Laspeyres / Paasche / Fisher price indexes per order year "
    "against the first year as base (CPI methodology, Fisher 1922): "
    "part-year unit prices from exact cent/quantity sums; index "
    "numerators and denominators are per-part price x quantity-weight "
    "terms, 1e2-int-coded BEFORE the cross-part SUM (the multi-term "
    "float-product class the lint guards), matched-sample over parts "
    "present in both base and comparison year. One fact-grain "
    "aggregation to the part x year grid, one equi-join on partkey — "
    "both shuffle on keys that are uniform by construction.",
    tags=("analytics", "tpch", "stats"),
)
def price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    py = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents"),
            F.sum(F.round("l_quantity").cast("long")).alias("qty"),
        )
        # the (part, year) grid feeds the base-year scalar, the base
        # slice, and the matched join — materialized once, the
        # lineitem x orders join runs once instead of 3x (r11)
        .localCheckpoint(eager=False)
    )
    base_yr = py.agg(F.min("yr").alias("min_yr"))
    base = (
        py.join(
            F.broadcast(base_yr), py["yr"] == base_yr["min_yr"]
        )
        .select(
            "partkey",
            F.col("cents").alias("cents0"),
            F.col("qty").alias("qty0"),
        )
    )
    p_price = 1.0 * F.col("cents") / F.col("qty")
    b_price = 1.0 * F.col("cents0") / F.col("qty0")
    matched = (
        py.join(base, "partkey")
        .where((F.col("qty") > 0) & (F.col("qty0") > 0))
        .select(
            "yr",
            F.round(1e2 * p_price * F.col("qty0"))
            .cast("long")
            .alias("lasp_num_code"),
            F.round(1e2 * b_price * F.col("qty0"))
            .cast("long")
            .alias("lasp_den_code"),
            F.round(1e2 * p_price * F.col("qty"))
            .cast("long")
            .alias("paas_num_code"),
            F.round(1e2 * b_price * F.col("qty"))
            .cast("long")
            .alias("paas_den_code"),
        )
    )
    lasp = F.sum("lasp_num_code") / (1.0 * F.sum("lasp_den_code"))
    paas = F.sum("paas_num_code") / (1.0 * F.sum("paas_den_code"))
    return (
        matched.groupBy(F.col("yr").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n_matched_parts"),
            F.round(lasp, 6).alias("laspeyres"),
            F.round(paas, 6).alias("paasche"),
            F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        )
        .orderBy("year")
    )


# --- empirical absorbing-state session paths ------------------------------------

from mvrs_dspa_spark.operators.sessionize import GAP_US  # noqa: E402


@register(
    "session_path_markov_absorbing",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, event_id, event_type,
                   epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                             > {GAP_US} THEN 1
                        WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ),
        seqed AS (
            SELECT *,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        ),
        numbered AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, session_seq
                       ORDER BY ts_us, event_id) AS rn
            FROM seqed
        ),
        sessions AS (
            SELECT user_id, session_seq,
                   MIN(CASE WHEN rn = 1 THEN event_type END) AS start_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(CASE WHEN event_type = 'purchase' THEN rn END)
                       AS absorb_step
            FROM numbered GROUP BY user_id, session_seq
        )
        SELECT start_type,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(COUNT(absorb_step) AS BIGINT) AS n_absorbed,
               ROUND(COUNT(absorb_step) / (1.0 * COUNT(*)), 6)
                   AS p_absorb,
               CASE WHEN COUNT(absorb_step) > 0 THEN
                   ROUND(SUM(absorb_step) / (1.0 * COUNT(absorb_step)), 6)
               END AS mean_steps_to_purchase
        FROM sessions
        GROUP BY start_type
        ORDER BY start_type
    """,
    doc="Empirical absorbing-state analysis of session paths: treating "
    "'purchase' as the absorbing state of the session Markov chain, "
    "the absorption probability and mean hitting time per STARTING "
    "event type, estimated exactly from the observed paths (the "
    "empirical counterpart of the fundamental-matrix computation — "
    "no 5x5 inversion, no truncation error; complements the one-step "
    "transition matrix 10ad and the funnel 13e). Same single "
    "sessionization pass as user_sessions (one user_id shuffle); "
    "everything after runs on the session grain, aggregated to 5 "
    "rows of exact integer counts with single final divisions.",
    tags=("analytics", "sessions"),
)
def session_path_markov_absorbing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn(
        "new_session",
        F.when(
            (
                F.col("ts_us") - F.lag("ts_us").over(order) > GAP_US
            )
            | F.lag("ts_us").over(order).isNull(),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_seq").orderBy(
                "ts_us", "event_id"
            )
        ),
    )
    sessions = numbered.groupBy("user_id", "session_seq").agg(
        F.min(
            F.when(F.col("rn") == 1, F.col("event_type"))
        ).alias("start_type"),
        F.count(F.lit(1)).alias("n_events"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        ).alias("absorb_step"),
    )
    return (
        sessions.groupBy("start_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count("absorb_step").alias("n_absorbed"),
            F.round(
                F.count("absorb_step") / (1.0 * F.count(F.lit(1))), 6
            ).alias("p_absorb"),
            F.when(
                F.count("absorb_step") > 0,
                F.round(
                    F.sum("absorb_step")
                    / (1.0 * F.count("absorb_step")),
                    6,
                ),
            ).alias("mean_steps_to_purchase"),
        )
        .orderBy("start_type")
    )


# --- exact 1-D Wasserstein (earth mover) drift -----------------------------------


def w1_cents_col() -> Column:
    """The exact cent-grid coding of W1's value domain — ONE definition
    shared by the registered batch query and the streaming drift
    monitor (streaming/wasserstein_stream.WassersteinMonitor)."""
    return F.round(F.col("value") * 100).cast("long")


def w1_from_cells(cells: DataFrame) -> DataFrame:
    """Exact per-type Wasserstein-1 from a (event_type, cents, c1, c2)
    count grid — the serving tail shared by the batch query (grid from
    one corpus scan) and the streaming monitor (grid maintained
    incrementally). All windows run on the value-domain-bounded grid;
    the cross-multiplied term and its sum are decimal(38,0)
    (128-bit-exact at any scale, ADVICE r7)."""
    wt = Window.partitionBy("event_type")
    w = wt.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "event_type",
        "cents",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(wt).alias("t1"),
        F.sum("c2").over(wt).alias("t2"),
        F.lead("cents").over(wt.orderBy("cents")).alias("nxt"),
    )
    dec = "decimal(38,0)"
    term = F.when(F.col("nxt").isNull(), F.lit(0).cast(dec)).otherwise(
        F.abs(
            F.col("cum1").cast(dec) * F.col("t2").cast(dec)
            - F.col("cum2").cast(dec) * F.col("t1").cast(dec)
        )
        * (F.col("nxt") - F.col("cents")).cast(dec)
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("t1").cast("long").alias("n_first_half"),
            F.max("t2").cast("long").alias("n_second_half"),
            F.when(
                (F.max("t1") > 0) & (F.max("t2") > 0),
                F.round(
                    F.sum(term)
                    / (1.0 * F.max("t1") * F.max("t2") * 100),
                    6,
                ),
            ).alias("wasserstein_1"),
        )
        .orderBy("event_type")
    )


def ks_from_cells(cells: DataFrame) -> DataFrame:
    """Exact two-sample KS per type from the SAME (event_type, cents,
    c1, c2) grid `w1_from_cells` consumes — one maintained state, two
    drift statistics (W1 = magnitude, KS = sup-distance). Shared by
    the registered batch query (#10am-b, plans/analytics.value_drift_ks)
    and the streaming monitor's `ks_report()` (29ah). ECDF windows run
    on the value-domain-bounded grid; counts are integers divided once
    per row, so both serving paths agree bit-for-bit."""
    totals = cells.groupBy("event_type").agg(
        F.sum("c1").alias("n0"), F.sum("c2").alias("n1")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # NULLIF every denominator: a type entirely inside one half (the
    # newly-appearing / vanished type — the core drift scenario) has
    # n0 or n1 = 0 and ANSI would throw; NULL ECDF terms are skipped
    # by MAX, yielding NULL ks columns for the one-sided type.
    ecdf = cells.join(totals, "event_type").select(
        "event_type",
        (
            F.sum("c1").over(w).cast("double")
            / F.nullif(F.col("n0"), F.lit(0))
        ).alias("f0"),
        (
            F.sum("c2").over(w).cast("double")
            / F.nullif(F.col("n1"), F.lit(0))
        ).alias("f1"),
        "n0",
        "n1",
    )
    d = F.max(F.abs(F.col("f0") - F.col("f1")))
    return (
        ecdf.groupBy("event_type")
        .agg(
            F.any_value("n0").cast("long").alias("n_ref"),
            F.any_value("n1").cast("long").alias("n_cur"),
            F.round(d, 6).alias("ks_stat"),
            F.round(
                d
                / F.sqrt(
                    (F.any_value("n0") + F.any_value("n1")).cast("double")
                    / F.nullif(
                        F.any_value("n0") * F.any_value("n1"), F.lit(0)
                    )
                ),
                6,
            ).alias("ks_scaled"),
        )
        .orderBy("event_type")
    )


@register(
    "value_wasserstein_drift",
    oracle="""
        WITH rng AS (
            SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
            FROM events
        ),
        labeled AS (
            SELECT event_type,
                   CASE WHEN epoch_us(ts) <
                            (SELECT mn + (mx - mn) // 2 FROM rng)
                        THEN 0 ELSE 1 END AS period,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        cells AS (
            SELECT event_type, cents,
                   SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS c1,
                   SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS c2
            FROM labeled GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, cents,
                   SUM(c1) OVER w AS cum1,
                   SUM(c2) OVER w AS cum2,
                   SUM(c1) OVER (PARTITION BY event_type) AS t1,
                   SUM(c2) OVER (PARTITION BY event_type) AS t2,
                   LEAD(cents) OVER (
                       PARTITION BY event_type ORDER BY cents) AS nxt
            FROM cells
            WINDOW w AS (PARTITION BY event_type ORDER BY cents
                         ROWS UNBOUNDED PRECEDING)
        )
        SELECT event_type,
               CAST(MAX(t1) AS BIGINT) AS n_first_half,
               CAST(MAX(t2) AS BIGINT) AS n_second_half,
               CASE WHEN MAX(t1) > 0 AND MAX(t2) > 0 THEN
                   ROUND(SUM(CASE WHEN nxt IS NULL THEN CAST(0 AS HUGEINT)
                             ELSE abs(CAST(cum1 AS HUGEINT) * t2
                                      - CAST(cum2 AS HUGEINT) * t1)
                                  * (nxt - cents) END)
                         / (1.0 * MAX(t1) * MAX(t2) * 100), 6)
               END AS wasserstein_1
        FROM cum
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Exact 1-D Wasserstein-1 (earth mover) distance between the "
    "first- and second-half value distributions per event type — the "
    "magnitude-aware drift monitor next to PSI (10am, binned, "
    "saturates) and KS (10am-b, sup-norm, ignores HOW FAR mass "
    "moved): W1 = integral |F1 - F2| dx over the exact cent-grid "
    "CDFs. Every per-segment term is the exact INTEGER "
    "|cum1*T2 - cum2*T1| * dcents (cross-multiplied, no float "
    "cumsum), summed exactly, ONE final division — W1 in dollars. "
    "The term and its sum are decimal(38,0) on Spark / HUGEINT on "
    "the oracle: the per-type total is bounded by T1*T2*cent_range, "
    "which exceeds int64 around 1e7 events per type — 128-bit "
    "accumulation keeps both engines exact (and wrap-free) at any "
    "realistic scale (ADVICE r7). "
    "One corpus pass to the (type, cent) grid; windows run on the "
    "value-domain-bounded grid partitioned by type.",
    tags=("analytics", "stats", "llm"),
)
def value_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    labeled = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        F.when(
            F.unix_micros("ts")
            < F.col("mn") + F.expr("(mx - mn) div 2"),
            0,
        )
        .otherwise(1)
        .alias("period"),
        w1_cents_col().alias("cents"),
    )
    cells = labeled.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("c2"),
    )
    return w1_from_cells(cells)


# --- bounded divergences from the same drift grid ---------------------------
#
# Jensen-Shannon divergence and Hellinger distance between the two
# half-period value distributions — the BOUNDED divergences ([0, ln 2]
# and [0, 1]) completing the drift read-outs served from the ONE
# (event_type, cents, c1, c2) grid (W1 = magnitude, KS = sup-distance,
# PSI = binned ratio; these two saturate gracefully where PSI
# explodes on empty bins). Every per-cell transcendental term
# (p ln p-form, sqrt products) is a 1e9/1e12 int64 code BEFORE the
# grid sum (house rule), then one division per type.


def divergences_from_cells(cells: DataFrame) -> DataFrame:
    """JSD + Hellinger per type from the shared drift grid — serving
    tail used by the batch query (#202) and WassersteinMonitor's
    `divergence_report()` (29ah)."""
    wt = Window.partitionBy("event_type")
    tot = cells.select(
        "event_type",
        "cents",
        "c1",
        "c2",
        F.sum("c1").over(wt).alias("t1"),
        F.sum("c2").over(wt).alias("t2"),
    ).where((F.col("t1") > 0) & (F.col("t2") > 0))
    p = F.col("c1") / F.col("t1")
    q = F.col("c2") / F.col("t2")
    m = (p + q) / 2
    # KL(p||m) + KL(q||m) cell terms; 0 ln 0 = 0 via the when-guards
    jsd_term = F.round(
        1e9
        * (
            F.when(F.col("c1") > 0, p * F.log(p / m)).otherwise(0.0)
            + F.when(F.col("c2") > 0, q * F.log(q / m)).otherwise(0.0)
        )
        / 2
    ).cast("long")
    hel_term = F.round(1e12 * F.sqrt(p * q)).cast("long")
    return (
        tot.select(
            "event_type",
            F.col("t1").alias("n_first_half"),
            F.col("t2").alias("n_second_half"),
            jsd_term.alias("j_c"),
            hel_term.alias("h_c"),
        )
        .groupBy("event_type")
        .agg(
            F.max("n_first_half").cast("long").alias("n_first_half"),
            F.max("n_second_half").cast("long").alias("n_second_half"),
            F.round(F.sum("j_c") / 1e9, 6).alias("jsd"),
            F.round(
                F.sqrt(
                    F.greatest(
                        F.lit(0.0), 1.0 - F.sum("h_c") / 1e12
                    )
                ),
                6,
            ).alias("hellinger"),
        )
        .orderBy("event_type")
    )


@register(
    "value_drift_divergences",
    oracle="""
        WITH rng AS (
            SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
            FROM events
        ),
        labeled AS (
            SELECT event_type,
                   CASE WHEN epoch_us(ts) <
                            (SELECT mn + (mx - mn) // 2 FROM rng)
                        THEN 0 ELSE 1 END AS period,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        cells AS (
            SELECT event_type, cents,
                   SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS c1,
                   SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS c2
            FROM labeled GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, cents, c1, c2,
                   SUM(c1) OVER (PARTITION BY event_type) AS t1,
                   SUM(c2) OVER (PARTITION BY event_type) AS t2
            FROM cells
        ),
        terms AS (
            SELECT event_type, t1, t2,
                   CAST(ROUND(1e9 * (
                       CASE WHEN c1 > 0 THEN
                           (c1 / CAST(t1 AS DOUBLE))
                           * ln((c1 / CAST(t1 AS DOUBLE))
                                / ((c1 / CAST(t1 AS DOUBLE)
                                    + c2 / CAST(t2 AS DOUBLE)) / 2))
                       ELSE 0 END
                       + CASE WHEN c2 > 0 THEN
                           (c2 / CAST(t2 AS DOUBLE))
                           * ln((c2 / CAST(t2 AS DOUBLE))
                                / ((c1 / CAST(t1 AS DOUBLE)
                                    + c2 / CAST(t2 AS DOUBLE)) / 2))
                       ELSE 0 END) / 2) AS BIGINT) AS j_c,
                   CAST(ROUND(1e12 * sqrt(
                       (c1 / CAST(t1 AS DOUBLE))
                       * (c2 / CAST(t2 AS DOUBLE)))) AS BIGINT) AS h_c
            FROM tot WHERE t1 > 0 AND t2 > 0
        )
        SELECT event_type,
               CAST(MAX(t1) AS BIGINT) AS n_first_half,
               CAST(MAX(t2) AS BIGINT) AS n_second_half,
               ROUND(SUM(j_c) / 1e9, 6) AS jsd,
               ROUND(sqrt(GREATEST(0.0, 1.0 - SUM(h_c) / 1e12)), 6)
                   AS hellinger
        FROM terms
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Jensen-Shannon divergence + Hellinger distance between the "
    "two half-period value distributions per type — the BOUNDED "
    "divergences ([0, ln 2] / [0, 1]) completing the drift family's "
    "read-outs from ONE grid (W1 #175 magnitude, KS #10am-b "
    "sup-distance, PSI #10am binned ratio — which explodes on empty "
    "bins exactly where these saturate gracefully). Cell terms "
    "(p ln p-form, sqrt pq) are 1e9/1e12 int64 codes BEFORE the "
    "grid sums (house rule); the SAME `divergences_from_cells` tail "
    "serves from the streaming W1 monitor's maintained grid "
    "(`divergence_report()`, 29ah) — one state, FOUR drift "
    "statistics.",
    tags=("analytics", "validation"),
)
def value_drift_divergences(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    cells = labeled.groupBy("event_type", "cents").agg(
        F.count_if(F.col("period") == 0).alias("c1"),
        F.count_if(F.col("period") == 1).alias("c2"),
    )
    return divergences_from_cells(cells)
