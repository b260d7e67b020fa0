"""Round-8 second-wave analytics (SURVEY §2 #178+): rank-based
nonparametric tests and cooperative-game channel attribution.

House determinism discipline (SURVEY §5): ranks come from the distinct
integer cent-code grid (value-domain-bounded, never a corpus-sized
window partition); every accumulator whose product can exceed int64 is
decimal(38,0) on Spark / HUGEINT on DuckDB (the ADVICE-r7 overflow
rule); doubles appear only in per-row FINAL formulas over exact integer
sufficient statistics, so both engines agree bit-for-bit before the
single terminal ROUND.

Reference parity note: the reference has no rank-test or attribution
operators; these extend the experimentation family (ab_test_report,
value_ttest_by_type, sequential_ab_sprt, markov_attribution) the same
way its statistics task extends event analytics
(jobs/clustering/UnusualActivityDetectionJob.scala's feature pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.plans.analytics import CUSUM_CELLS_SQL, CUSUM_CP_SQL
from mvrs_dspa_spark.plans.analytics3 import TS_PTS_SQL
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

_DEC = "decimal(38,0)"


def _d(c: Column) -> Column:
    return c.cast("double")


# --- shared midrank grid (Mann-Whitney + Kruskal-Wallis) --------------------
#
# Global midranks on the distinct cent-code grid: r2 = 2*midrank is the
# INTEGER 2*(#less) + (#equal+1), so rank sums stay exact. The grid is
# bounded by the value domain (~49k codes), not the row count — the
# same scale idiom as quantile_transform_values (#136) and the W1 grid.

_RANK_GRID_SQL = """
        coded AS (
            SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v_c
            FROM events
        ),
        grid AS (
            SELECT v_c, COUNT(*) AS cnt FROM coded GROUP BY v_c
        ),
        ranked AS (
            SELECT v_c, cnt,
                   2 * COALESCE(SUM(cnt) OVER (
                       ORDER BY v_c ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0)
                     + cnt + 1 AS r2
            FROM grid
        ),
        tot AS (
            SELECT SUM(cnt) AS n,
                   SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_t
            FROM grid
        ),
        tgrid AS (
            SELECT event_type, v_c, COUNT(*) AS cnt_t
            FROM coded GROUP BY 1, 2
        ),
        per AS (
            SELECT t.event_type,
                   SUM(t.cnt_t) AS n1,
                   SUM(CAST(t.cnt_t AS HUGEINT) * r.r2) AS rr2
            FROM tgrid t JOIN ranked r USING (v_c)
            GROUP BY 1
        )"""


def rank_cents_col() -> Column:
    """The exact cent coding of the rank tests' value domain — ONE
    definition shared by the registered batch queries and the
    streaming rank-test monitor (streaming/ranktest_stream)."""
    return F.round(F.col("value") * 100).cast("long")


def rank_stats_from_tgrid(
    tgrid: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(per-type rank sums, global totals) from a per-type cent-count
    grid ``tgrid(event_type, v_c, cnt_t)`` — the serving tail shared
    by the batch queries (tgrid from one corpus scan) and the
    streaming monitor (tgrid maintained additively: int64 counts
    merge in any order, the CUSUM-grid property).

    Returns ``per(event_type, n1, rr2)`` with rr2 = exact decimal
    2*rank-sum, and ``tot(n, tie_t)`` with tie_t = exact decimal
    sum(cnt^3 - cnt) over the tie groups.
    """
    grid = tgrid.groupBy("v_c").agg(F.sum("cnt_t").alias("cnt"))
    # cache-free reuse: grid is re-derived per branch; Catalyst reuses
    # the exchange (both branches share the same aggregate subplan).
    w_less = Window.orderBy("v_c").rowsBetween(
        Window.unboundedPreceding, -1
    )  # global window over the value-DOMAIN grid (bounded), not rows
    ranked = grid.select(
        "v_c",
        (
            2 * F.coalesce(F.sum("cnt").over(w_less), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("r2"),
    )
    tot = grid.agg(
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("cnt").cast(_DEC) * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie_t"),
    )
    per = (
        tgrid.join(ranked, "v_c")
        .groupBy("event_type")
        .agg(
            F.sum("cnt_t").alias("n1"),
            F.sum(F.col("cnt_t").cast(_DEC) * F.col("r2")).alias("rr2"),
        )
    )
    return per, tot


def events_tgrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, v_c, cnt_t) cent-count grid from one events
    scan — the batch source feeding rank_stats_from_tgrid.

    Materialized (r11): the serving tail reads the grid through three
    subtrees (the pooled rank grid, the totals, the per-type join),
    which each re-ran the corpus aggregation (3 events scans per
    rank-test query); the lazy checkpoint makes every consumer
    grid-bounded. The streaming monitor maintains its own grid."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select("event_type", rank_cents_col().alias("v_c"))
        .groupBy("event_type", "v_c")
        .agg(F.count(F.lit(1)).alias("cnt_t"))
        .localCheckpoint(eager=False)
    )


def mannwhitney_table(per: DataFrame, tot: DataFrame) -> DataFrame:
    """The Mann-Whitney output shape from the shared rank statistics —
    serving tail used by both the batch query and the monitor."""
    st = per.crossJoin(F.broadcast(tot))
    u1 = _d(F.col("rr2")) / 2 - _d(F.col("n1")) * (F.col("n1") + 1) / 2
    n2 = _d(F.col("n1")) * (F.col("n") - F.col("n1"))
    var = (
        n2
        / 12.0
        * (
            (F.col("n") + 1)
            - _d(F.col("tie_t")) / (_d(F.col("n")) * (F.col("n") - 1))
        )
    )
    return st.select(
        "event_type",
        F.col("n1").cast("long").alias("n_type"),
        F.round(u1, 2).alias("u_stat"),
        F.round(
            (u1 - n2 / 2) / F.nullif(F.sqrt(var), F.lit(0.0)), 6
        ).alias("z_u"),
        # a single-type slice has n2 = 0: the effect size is undefined
        # (NULL), and ANSI would otherwise throw on the division
        F.when(
            n2 > 0, F.round(2 * u1 / n2 - 1, 6)
        ).alias("r_rank_biserial"),
    ).orderBy("event_type")


def kruskal_wallis_table(per: DataFrame, tot: DataFrame) -> DataFrame:
    """The Kruskal-Wallis output shape from the shared rank
    statistics — serving tail used by both the batch query and the
    monitor."""
    half = _d(F.col("rr2")) / 2
    terms = per.select(
        F.round(half * half / F.col("n1")).cast(_DEC).alias("term_c")
    )
    s = terms.agg(
        F.sum("term_c").alias("s_c"), F.count(F.lit(1)).alias("k")
    )
    st = s.crossJoin(F.broadcast(tot))
    h = 12.0 / (_d(F.col("n")) * (F.col("n") + 1)) * _d(
        F.col("s_c")
    ) - 3 * (F.col("n") + 1)
    tie_c = 1 - _d(F.col("tie_t")) / (
        _d(F.col("n")) * F.col("n") * F.col("n") - F.col("n")
    )
    return st.select(
        F.col("n").cast("long").alias("n_events"),
        F.col("k").cast("long").alias("n_groups"),
        F.round(h, 6).alias("h"),
        F.round(tie_c, 9).alias("tie_correction"),
        F.round(h / F.nullif(tie_c, F.lit(0.0)), 6).alias("h_adj"),
    ).orderBy("n_events")


_MW_SQL = f"""
        WITH {_RANK_GRID_SQL}
        SELECT event_type,
               CAST(n1 AS BIGINT) AS n_type,
               ROUND(CAST(rr2 AS DOUBLE) / 2
                     - CAST(n1 AS DOUBLE) * (n1 + 1) / 2, 2) AS u_stat,
               ROUND((CAST(rr2 AS DOUBLE) / 2
                      - CAST(n1 AS DOUBLE) * (n1 + 1) / 2
                      - CAST(n1 AS DOUBLE) * (n - n1) / 2)
                     / NULLIF(sqrt(
                           CAST(n1 AS DOUBLE) * (n - n1) / 12.0
                           * ((n + 1)
                              - CAST(tie_t AS DOUBLE)
                                / (CAST(n AS DOUBLE) * (n - 1)))), 0),
                     6) AS z_u,
               CASE WHEN n - n1 > 0 THEN
                   ROUND(2 * (CAST(rr2 AS DOUBLE) / 2
                              - CAST(n1 AS DOUBLE) * (n1 + 1) / 2)
                         / (CAST(n1 AS DOUBLE) * (n - n1)) - 1, 6)
               END AS r_rank_biserial
        FROM per, tot
        ORDER BY event_type
"""


@register(
    "value_mannwhitney_by_type",
    oracle=_MW_SQL,
    doc="One-vs-rest Mann-Whitney U test of event value per type — the "
    "rank-based (distribution-free) twin of value_ttest_by_type #109, "
    "robust to the heavy-tailed value distributions where Welch's t "
    "misleads. Midranks come from ONE global distinct-cent-code grid "
    "(value-domain-bounded — never a corpus-sized rank window): "
    "2*midrank is integer, per-type 2*rank-sums and the tie term "
    "sum(c^3-c) accumulate as decimal(38,0)/HUGEINT (exact at any "
    "scale, ADVICE-r7 overflow rule), and the tie-corrected normal "
    "z and rank-biserial effect size are single per-row formulas "
    "over those exact statistics.",
    tags=("analytics", "validation"),
)
def value_mannwhitney_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    per, tot = rank_stats_from_tgrid(events_tgrid(spark, sf_dir))
    return mannwhitney_table(per, tot)


@register(
    "kruskal_wallis_value",
    oracle=f"""
        WITH {_RANK_GRID_SQL},
        terms AS (
            -- per-group term R_g^2/n_g, int-coded (unit granularity)
            -- before the cross-group SUM: each is exactly decimal, so
            -- summation order cannot move the statistic (house rule)
            SELECT CAST(ROUND(
                       (CAST(rr2 AS DOUBLE) / 2)
                       * (CAST(rr2 AS DOUBLE) / 2) / n1
                   ) AS HUGEINT) AS term_c
            FROM per
        ),
        s AS (SELECT SUM(term_c) AS s_c, COUNT(*) AS k FROM terms)
        SELECT CAST(n AS BIGINT) AS n_events,
               CAST(k AS BIGINT) AS n_groups,
               ROUND(12.0 / (CAST(n AS DOUBLE) * (n + 1))
                     * CAST(s_c AS DOUBLE) - 3 * (n + 1), 6) AS h,
               ROUND(1 - CAST(tie_t AS DOUBLE)
                         / (CAST(n AS DOUBLE) * n * n - n), 9)
                   AS tie_correction,
               ROUND((12.0 / (CAST(n AS DOUBLE) * (n + 1))
                      * CAST(s_c AS DOUBLE) - 3 * (n + 1))
                     / NULLIF(1 - CAST(tie_t AS DOUBLE)
                              / (CAST(n AS DOUBLE) * n * n - n), 0),
                     6) AS h_adj
        FROM s, tot
        ORDER BY n_events
    """,
    doc="Kruskal-Wallis H test across ALL event types (the k-group "
    "generalization of value_mannwhitney_by_type, sharing its exact "
    "midrank-grid sufficient statistics — one events scan, windows "
    "only over the bounded cent-code grid). Per-group terms R_g^2/n_g "
    "are int-coded at unit granularity before the cross-group sum "
    "(identical doubles -> identical codes in both engines; the unit "
    "loss is O(k/n^2) on H, far below the 1e-6 round), with the "
    "tie-corrected H_adj = H / (1 - sum(c^3-c)/(n^3-n)).",
    tags=("analytics", "validation"),
)
def kruskal_wallis_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    per, tot = rank_stats_from_tgrid(events_tgrid(spark, sf_dir))
    return kruskal_wallis_table(per, tot)


# --- exact Shapley-value channel attribution --------------------------------
#
# Cooperative-game attribution over the bounded channel vocabulary
# (event types except the conversion event): the characteristic
# function v(S) = #converted users whose touched-channel set is a
# subset of S, and each channel's Shapley value is the exact
# factorial-weighted sum of marginal contributions over all 2^(k-1)
# coalitions (Shapley 1953; the marketing form of Zhao et al. 2018).
# The data-sized work is ONE user_id aggregation to (bitmask,
# converted) counts; everything downstream lives on <= 2^k rows.

_CONV_TYPE = "purchase"


@register(
    "shapley_channel_attribution",
    oracle=f"""
        WITH channels AS (
            SELECT event_type,
                   ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS bit
            FROM (SELECT DISTINCT event_type FROM events
                  WHERE event_type <> '{_CONV_TYPE}')
        ),
        kk AS (SELECT COUNT(*) AS k FROM channels),
        per_user AS (
            SELECT e.user_id,
                   COALESCE(BIT_OR(CASE WHEN c.bit IS NOT NULL
                       THEN CAST(1 AS BIGINT) << c.bit END), 0) AS mask,
                   MAX(CASE WHEN e.event_type = '{_CONV_TYPE}'
                       THEN 1 ELSE 0 END) AS conv
            FROM events e
            LEFT JOIN channels c ON e.event_type = c.event_type
            GROUP BY 1
        ),
        masks AS (
            SELECT mask, SUM(conv) AS conv_users
            FROM per_user GROUP BY 1
        ),
        subsets AS (
            SELECT unnest(generate_series(0,
                       (SELECT (CAST(1 AS BIGINT) << k) - 1 FROM kk)))
                   AS s
        ),
        v AS (
            SELECT s.s,
                   COALESCE(SUM(CASE WHEN (m.mask & s.s) = m.mask
                                     THEN m.conv_users END), 0) AS v
            FROM subsets s LEFT JOIN masks m ON (m.mask & s.s) = m.mask
            GROUP BY s.s
        ),
        touched AS (
            SELECT c.event_type, c.bit,
                   SUM(CASE WHEN (p.mask >> c.bit) & 1 = 1
                            THEN 1 ELSE 0 END) AS n_users_touched
            FROM channels c, per_user p
            GROUP BY 1, 2
        )
        SELECT c.event_type AS channel,
               CAST(t.n_users_touched AS BIGINT) AS n_users_touched,
               ROUND(SUM(
                   factorial(CAST(bit_count(s.s) AS INTEGER))
                   * factorial(CAST(kk.k - bit_count(s.s) - 1 AS INTEGER))
                   * (v2.v - v1.v)
               ) / CAST(factorial(CAST(MAX(kk.k) AS INTEGER)) AS DOUBLE),
                   6) AS shapley_conversions
        FROM channels c
        JOIN touched t ON t.bit = c.bit
        CROSS JOIN kk
        JOIN subsets s ON (s.s >> c.bit) & 1 = 0
        JOIN v v1 ON v1.s = s.s
        JOIN v v2 ON v2.s = (s.s | (CAST(1 AS BIGINT) << c.bit))
        GROUP BY 1, 2
        ORDER BY channel
    """,
    doc="Exact Shapley-value conversion attribution over the bounded "
    "channel set (all event types except the '"
    + _CONV_TYPE
    + "' conversion event; Shapley 1953, the axiomatic complement of "
    "markov_attribution #131's removal effects). v(S) = converted "
    "users whose touched-channel bitmask is contained in coalition S; "
    "each channel's value is the factorial-weighted marginal sum over "
    "all coalitions. Scale shape: ONE user_id aggregation folds the "
    "corpus to <= 2^k (bitmask, conversions) rows; the coalition "
    "lattice, subset-containment joins, and factorial weights live "
    "entirely on that bounded grid (k = channel vocabulary, not "
    "rows). Factorial weights stay integer (k! * conversions << "
    "int64 for any real channel count) so the coalition sum is "
    "exact before the single terminal division; efficiency axiom "
    "(sum of values = v(full) - v(empty)) is pytest-pinned.",
    tags=("analytics", "attribution"),
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # channel vocabulary (bounded) feeds four consumers (k count, the
    # per-user broadcast join, touched, phi) and the per-user mask
    # rollup feeds two (masks, touched) — before r11 every reference
    # re-scanned events (12 scans in the plan). The vocab and the
    # <= 2^k mask grid are materialized once; events is scanned twice
    # total (vocab pass + per-user pass), everything else is bounded.
    channels = (
        ev.where(F.col("event_type") != _CONV_TYPE)
        .select("event_type")
        .distinct()
        .select(
            "event_type",
            (
                F.row_number().over(Window.orderBy("event_type")) - 1
            ).alias("bit"),
        )
        .localCheckpoint(eager=False)
    )
    kk = channels.agg(F.count(F.lit(1)).alias("k"))
    per_user = (
        ev.join(F.broadcast(channels), "event_type", "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.bit_or(
                    F.when(
                        F.col("bit").isNotNull(),
                        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("mask"),
            F.max(
                F.when(F.col("event_type") == _CONV_TYPE, 1).otherwise(0)
            ).alias("conv"),
        )
    )
    mask_grid = (
        per_user.groupBy("mask")
        .agg(
            F.sum("conv").alias("conv_users"),
            F.count(F.lit(1)).alias("mask_users"),
        )
        .localCheckpoint(eager=False)
    )
    masks = mask_grid.select("mask", "conv_users")
    subsets = kk.select(
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))") - 1,
            )
        ).alias("s")
    )
    # coalition lattice joins: bounded 2^k x 2^k, broadcast nested-loop
    # by design (allowlisted — same class as theta_sketch_overlap)
    v = (
        subsets.join(
            F.broadcast(masks),
            (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conv_users"), F.lit(0)).alias("v"))
    )
    # touched-user counts: channel bit contained in the user's mask
    touched = (
        channels.join(
            F.broadcast(mask_grid.select("mask", "mask_users")),
            F.expr("((mask >> bit) & 1) = 1"),
        )
        .groupBy("event_type", "bit")
        .agg(F.sum("mask_users").alias("n_users_touched"))
    )
    sbits = F.bit_count(F.col("s"))
    weight = F.factorial(sbits) * F.factorial(
        F.col("k") - sbits - 1
    )
    vv1 = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    vv2 = v.select(F.col("s").alias("s2"), F.col("v").alias("v2"))
    phi = (
        channels.crossJoin(F.broadcast(kk))
        .join(
            F.broadcast(subsets),
            F.expr("((s >> bit) & 1) = 0"),
        )
        .join(F.broadcast(vv1), F.col("s1") == F.col("s"))
        .join(
            F.broadcast(vv2),
            F.col("s2")
            == F.col("s").bitwiseOR(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")
            ),
        )
        .groupBy("event_type", "bit", "k")
        .agg(F.sum(weight * (F.col("v2") - F.col("v1"))).alias("num"))
    )
    return (
        phi.join(F.broadcast(touched), ["event_type", "bit"])
        .select(
            F.col("event_type").alias("channel"),
            F.col("n_users_touched").cast("long").alias("n_users_touched"),
            F.round(
                _d(F.col("num")) / _d(F.factorial(F.col("k"))), 6
            ).alias("shapley_conversions"),
        )
        .orderBy("channel")
    )


# --- Spearman rank correlation (value vs hour-of-day) -----------------------
#
# Pearson over midranks (the tie-correct Spearman form): both
# variables are ranked WITHIN their event type on bounded grids —
# value on the distinct cent-code grid, hour-of-day on its 24-row
# grid — so no corpus-sized rank window exists anywhere. Midrank sums
# are n(n+1)/2 identically; the rank products and squared-rank sums
# ride 2*midrank integers in decimal(38,0)/HUGEINT (4x-scaled), and
# rho is one per-row final formula over those exact statistics.


@register(
    "value_hour_spearman",
    oracle="""
        WITH coded AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS v_c,
                   CAST(hour(ts) AS INTEGER) AS hod
            FROM events
        ),
        cells AS (
            SELECT event_type, v_c, hod, COUNT(*) AS cnt
            FROM coded GROUP BY 1, 2, 3
        ),
        vgrid AS (
            SELECT event_type, v_c, SUM(cnt) AS cv,
                   2 * COALESCE(SUM(SUM(cnt)) OVER (
                       PARTITION BY event_type ORDER BY v_c
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0)
                     + SUM(cnt) + 1 AS r2x
            FROM cells GROUP BY event_type, v_c
        ),
        hgrid AS (
            SELECT event_type, hod, SUM(cnt) AS ch,
                   2 * COALESCE(SUM(SUM(cnt)) OVER (
                       PARTITION BY event_type ORDER BY hod
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0)
                     + SUM(cnt) + 1 AS r2y
            FROM cells GROUP BY event_type, hod
        ),
        per AS (
            SELECT c.event_type,
                   SUM(c.cnt) AS n,
                   SUM(CAST(c.cnt AS HUGEINT) * v.r2x * h.r2y) AS sxy4
            FROM cells c
            JOIN vgrid v ON v.event_type = c.event_type AND v.v_c = c.v_c
            JOIN hgrid h ON h.event_type = c.event_type AND h.hod = c.hod
            GROUP BY c.event_type
        ),
        mx AS (
            SELECT event_type,
                   SUM(CAST(cv AS HUGEINT) * r2x * r2x) AS sxx4
            FROM vgrid GROUP BY event_type
        ),
        my AS (
            SELECT event_type,
                   SUM(CAST(ch AS HUGEINT) * r2y * r2y) AS syy4
            FROM hgrid GROUP BY event_type
        )
        SELECT p.event_type,
               CAST(p.n AS BIGINT) AS n,
               ROUND(
                   (p.n * (CAST(p.sxy4 AS DOUBLE) / 4)
                    - (CAST(p.n AS DOUBLE) * (p.n + 1) / 2)
                      * (CAST(p.n AS DOUBLE) * (p.n + 1) / 2))
                   / NULLIF(sqrt(
                       (p.n * (CAST(mx.sxx4 AS DOUBLE) / 4)
                        - (CAST(p.n AS DOUBLE) * (p.n + 1) / 2)
                          * (CAST(p.n AS DOUBLE) * (p.n + 1) / 2))
                       * (p.n * (CAST(my.syy4 AS DOUBLE) / 4)
                          - (CAST(p.n AS DOUBLE) * (p.n + 1) / 2)
                            * (CAST(p.n AS DOUBLE) * (p.n + 1) / 2))), 0),
                   6) AS rho_spearman
        FROM per p
        JOIN mx ON mx.event_type = p.event_type
        JOIN my ON my.event_type = p.event_type
        ORDER BY p.event_type
    """,
    doc="Spearman rank correlation between event value and hour-of-day "
    "per event type (Spearman 1904, Pearson-over-midranks tie-correct "
    "form) — 'does this type monetize differently by time of day', "
    "the monotone-association companion to the hour-profile #110 and "
    "the rank-test family #178/#179. Both variables rank on bounded "
    "per-type grids (distinct cent codes; 24 hours) so no corpus rank "
    "window exists; 4x-scaled rank products accumulate as "
    "decimal(38,0)/HUGEINT and rho is a single per-row formula.",
    tags=("analytics", "validation"),
)
def value_hour_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    coded = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
        F.hour("ts").cast("int").alias("hod"),
    )
    # the bounded (type, cent, hour) cell grid feeds both rank grids
    # and the product join (and each rank grid is read twice) —
    # materialized once, events is scanned once instead of 5x (r11)
    cells = (
        coded.groupBy("event_type", "v_c", "hod")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )

    def _grid(col: str, rank_name: str, cnt_name: str) -> DataFrame:
        w_less = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            cells.groupBy("event_type", col)
            .agg(F.sum("cnt").alias(cnt_name))
            .select(
                "event_type",
                col,
                cnt_name,
                (
                    2 * F.coalesce(F.sum(cnt_name).over(w_less), F.lit(0))
                    + F.col(cnt_name)
                    + 1
                ).alias(rank_name),
            )
        )

    vgrid = _grid("v_c", "r2x", "cv")
    hgrid = _grid("hod", "r2y", "ch")
    per = (
        cells.join(vgrid.select("event_type", "v_c", "r2x"), ["event_type", "v_c"])
        .join(hgrid.select("event_type", "hod", "r2y"), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(
                F.col("cnt").cast(_DEC) * F.col("r2x") * F.col("r2y")
            ).alias("sxy4"),
        )
    )
    mx = vgrid.groupBy("event_type").agg(
        F.sum(F.col("cv").cast(_DEC) * F.col("r2x") * F.col("r2x")).alias("sxx4")
    )
    my = hgrid.groupBy("event_type").agg(
        F.sum(F.col("ch").cast(_DEC) * F.col("r2y") * F.col("r2y")).alias("syy4")
    )
    st = per.join(mx, "event_type").join(my, "event_type")
    half = _d(F.col("n")) * (F.col("n") + 1) / 2
    num = F.col("n") * (_d(F.col("sxy4")) / 4) - half * half
    venx = F.col("n") * (_d(F.col("sxx4")) / 4) - half * half
    veny = F.col("n") * (_d(F.col("syy4")) / 4) - half * half
    return st.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            num / F.nullif(F.sqrt(venx * veny), F.lit(0.0)), 6
        ).alias("rho_spearman"),
    ).orderBy("event_type")


# --- Mann-Kendall trend test -------------------------------------------------
#
# The significance companion to the Theil-Sen slope (#150): S is the
# sign-sum over ordered point pairs of the SAME capped hourly series
# (shared ts_bucketed_points / TS_PTS_SQL definition, <=720 points per
# type), var(S) carries the tie correction, and the continuity-
# corrected z decides the trend verdict. Everything is integer until
# the final per-row z formula.

MK_Z_CRIT = 1.96


@register(
    "hourly_mann_kendall_trend",
    oracle=f"""
        WITH {TS_PTS_SQL},
        s AS (
            SELECT a.event_type,
                   SUM(CASE WHEN b.n > a.n THEN 1
                            WHEN b.n < a.n THEN -1 ELSE 0 END) AS s_stat
            FROM pts a JOIN pts b
              ON a.event_type = b.event_type AND a.hr_rel < b.hr_rel
            GROUP BY 1
        ),
        m AS (
            SELECT event_type, COUNT(*) AS m FROM pts GROUP BY 1
        ),
        ties AS (
            SELECT event_type,
                   COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_v
            FROM (SELECT event_type, n, COUNT(*) AS t
                  FROM pts GROUP BY event_type, n)
            WHERE t > 1
            GROUP BY event_type
        ),
        v AS (
            SELECT m.event_type, m.m, s.s_stat,
                   (CAST(m.m AS DOUBLE) * (m.m - 1) * (2 * m.m + 5)
                    - COALESCE(t.tie_v, 0)) / 18 AS var_s
            FROM m JOIN s ON s.event_type = m.event_type
            LEFT JOIN ties t ON t.event_type = m.event_type
        )
        SELECT event_type,
               CAST(m AS BIGINT) AS n_points,
               CAST(s_stat AS BIGINT) AS s_stat,
               ROUND(var_s, 4) AS var_s,
               ROUND(CASE WHEN s_stat > 0
                          THEN (s_stat - 1) / NULLIF(sqrt(var_s), 0)
                          WHEN s_stat < 0
                          THEN (s_stat + 1) / NULLIF(sqrt(var_s), 0)
                          ELSE 0 END, 6) AS z_mk,
               CASE WHEN s_stat > 0 AND (s_stat - 1) / NULLIF(sqrt(var_s), 0)
                             > {MK_Z_CRIT} THEN 'increasing'
                    WHEN s_stat < 0 AND (s_stat + 1) / NULLIF(sqrt(var_s), 0)
                             < -{MK_Z_CRIT} THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM v
        ORDER BY event_type
    """,
    doc="Mann-Kendall monotone-trend test per event type (Mann 1945 / "
    "Kendall 1975) — the nonparametric significance verdict paired "
    "with the Theil-Sen slope magnitude (#150), on the SAME capped "
    "hourly point series (shared ts_bucketed_points / TS_PTS_SQL "
    "definition, <= 720 points per type by adaptive bucketing, so the "
    "sign-pair set is bounded at ~260k pairs regardless of volume). "
    "S and the tie term are exact integers; tie-corrected var(S) and "
    "the continuity-corrected z are per-row final formulas; trend is "
    "the |z| > 1.96 two-sided verdict.",
    tags=("analytics", "validation"),
)
def hourly_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.plans.analytics3 import ts_bucketed_points

    pts = ts_bucketed_points(spark, sf_dir).localCheckpoint(eager=False)
    a, b = pts.alias("a"), pts.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hr_rel") < F.col("b.hr_rel")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.n") > F.col("a.n"), 1)
                .when(F.col("b.n") < F.col("a.n"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    m = pts.groupBy("event_type").agg(F.count(F.lit(1)).alias("m"))
    ties = (
        pts.groupBy("event_type", "n")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_v")
        )
    )
    v = (
        m.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "m",
            "s_stat",
            (
                (
                    _d(F.col("m")) * (F.col("m") - 1) * (2 * F.col("m") + 5)
                    - F.coalesce(F.col("tie_v"), F.lit(0))
                )
                / 18
            ).alias("var_s"),
        )
    )
    sd = F.nullif(F.sqrt(F.col("var_s")), F.lit(0.0))
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "event_type",
        F.col("m").cast("long").alias("n_points"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.round("var_s", 4).alias("var_s"),
        F.round(z, 6).alias("z_mk"),
        F.when(
            (F.col("s_stat") > 0) & (z > MK_Z_CRIT), F.lit("increasing")
        )
        .when(
            (F.col("s_stat") < 0) & (z < -MK_Z_CRIT), F.lit("decreasing")
        )
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    ).orderBy("event_type")


# --- Benjamini-Hochberg FDR over the Mann-Whitney family --------------------
#
# Multiple-testing control for the one-vs-rest screen: five hypotheses
# is five chances at a false discovery, and the BH step-up procedure
# (Benjamini-Hochberg 1995) is the standard correction. The normal
# CDF has no closed form in either engine, so both evaluate the SAME
# Zelen-Severo rational approximation (Abramowitz-Stegun 26.2.17,
# |error| < 7.5e-8 — far above the 1e-6 round, and identical inputs ->
# identical doubles, so cross-engine agreement is by construction).
# p-values derive from the ROUNDED z_u of the shared Mann-Whitney
# table (round-before-rank), and BH's sort/step-up runs on the
# <= |event types| rows.

_PHI_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_PHI_T = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327
FDR_Q = 0.05


def _phi_tail_col(ax: Column) -> Column:
    """P(Z > ax) for ax >= 0 via Abramowitz-Stegun 26.2.17."""
    t = 1.0 / (1.0 + _PHI_T * ax)
    b1, b2, b3, b4, b5 = _PHI_B
    poly = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
    return F.lit(_INV_SQRT_2PI) * F.exp(-ax * ax / 2) * poly


def _phi_tail_sql(ax: str) -> str:
    b1, b2, b3, b4, b5 = _PHI_B
    t = f"(1.0 / (1.0 + {_PHI_T} * {ax}))"
    poly = f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * ({b4} + {t} * {b5})))))"
    return f"({_INV_SQRT_2PI} * exp(-{ax} * {ax} / 2) * {poly})"


@register(
    "mannwhitney_fdr_bh",
    oracle=f"""
        WITH mw AS ({_MW_SQL}),
        p AS (
            SELECT event_type, z_u,
                   ROUND(2 * {_phi_tail_sql("ABS(z_u)")}, 6) AS p_raw
            FROM mw
        ),
        ranked AS (
            SELECT event_type, z_u, p_raw,
                   ROW_NUMBER() OVER (ORDER BY p_raw, event_type) AS i,
                   COUNT(*) OVER () AS m
            FROM p
        )
        SELECT event_type, z_u, p_raw,
               ROUND(LEAST(1.0, MIN(p_raw * m / i) OVER (
                   ORDER BY i ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING)), 6)
                   AS p_bh,
               LEAST(1.0, MIN(p_raw * m / i) OVER (
                   ORDER BY i ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING))
                   <= {FDR_Q} AS significant
        FROM ranked
        ORDER BY event_type
    """,
    doc="Benjamini-Hochberg FDR step-up (BH 1995, q=0.05) over the "
    "one-vs-rest Mann-Whitney screen (#178) — the multiple-testing "
    "correction that keeps a five-hypothesis family from shipping "
    "false discoveries. Two-sided p-values come from the ROUNDED z "
    "of the shared MW table via the Zelen-Severo normal-CDF "
    "approximation (A&S 26.2.17; both engines evaluate the identical "
    "elementary formula on identical inputs — no engine CDF builtin "
    "exists in both), and the step-up adjusted p is the running "
    "tail-min of p*(m/i) over the type-count-bounded ranked frame. "
    "Scale shape: everything beyond #178's grid aggregation runs on "
    "<= |event types| rows.",
    tags=("analytics", "validation"),
)
def mannwhitney_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    per, tot = rank_stats_from_tgrid(events_tgrid(spark, sf_dir))
    mw = mannwhitney_table(per, tot)
    p = mw.select(
        "event_type",
        "z_u",
        F.round(2 * _phi_tail_col(F.abs(F.col("z_u"))), 6).alias("p_raw"),
    )
    w_rank = Window.orderBy("p_raw", "event_type")
    ranked = p.select(
        "event_type",
        "z_u",
        "p_raw",
        F.row_number().over(w_rank).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    w_tail = Window.orderBy("i").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    step_up = F.least(
        F.lit(1.0),
        F.min(F.col("p_raw") * F.col("m") / F.col("i")).over(w_tail),
    )
    return ranked.select(
        "event_type",
        "z_u",
        "p_raw",
        F.round(step_up, 6).alias("p_bh"),
        (step_up <= FDR_Q).alias("significant"),
    ).orderBy("event_type")


# --- segmented regression around the CUSUM changepoint ----------------------
#
# Interrupted-time-series analysis (the ops follow-up to 'when did it
# shift' = #10an): split each type's hourly revenue series at its
# CUSUM changepoint and fit OLS level+slope on each side. Slopes come
# from exact integer sufficient statistics (relative hour index x
# int64 cent sums; products in decimal/HUGEINT) with one final
# per-row division; the changepoint itself is #10an's integer-exact
# selection, so the whole pipeline is summation-order-proof.


@register(
    "changepoint_segmented_trend",
    oracle=f"""
        WITH {CUSUM_CELLS_SQL},
        {CUSUM_CP_SQL},
        rel AS (
            SELECT h.event_type, h.x_c,
                   ROW_NUMBER() OVER (PARTITION BY h.event_type
                                      ORDER BY h.hour) - 1 AS x,
                   CASE WHEN h.hour <= c.changepoint_hour
                        THEN 0 ELSE 1 END AS seg,
                   c.changepoint_hour
            FROM hourly h JOIN cp c ON c.event_type = h.event_type
        ),
        sums AS (
            SELECT event_type, changepoint_hour, seg,
                   COUNT(*) AS n,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(x_c AS HUGEINT)) AS sy,
                   SUM(CAST(x AS HUGEINT) * x_c) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx
            FROM rel GROUP BY 1, 2, 3
        ),
        fits AS (
            SELECT event_type, changepoint_hour, seg, n,
                   CAST(sy AS DOUBLE) / n / 100.0 AS mean_v,
                   CASE WHEN n >= 2 AND
                             n * sxx - sx * sx <> 0 THEN
                       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       / 100.0
                   END AS slope
            FROM sums
        )
        SELECT b.event_type,
               b.changepoint_hour,
               CAST(b.n AS BIGINT) AS n_before,
               CAST(COALESCE(a.n, 0) AS BIGINT) AS n_after,
               ROUND(b.slope, 6) AS slope_before,
               ROUND(a.slope, 6) AS slope_after,
               ROUND(a.slope - b.slope, 6) AS slope_delta,
               ROUND(a.mean_v - b.mean_v, 6) AS level_shift
        FROM fits b
        LEFT JOIN fits a
          ON a.event_type = b.event_type AND a.seg = 1
        WHERE b.seg = 0
        ORDER BY b.event_type
    """,
    doc="Interrupted-time-series segmented regression per event type "
    "(the ops follow-up to the CUSUM changepoint #10an, sharing its "
    "cells + changepoint definitions): OLS slope and level of the "
    "hourly revenue series on each side of the detected shift, with "
    "slope_delta and level_shift quantifying the break. OLS "
    "sufficient statistics are exact integer sums (relative hour "
    "index x cent sums, decimal/HUGEINT products) divided once; the "
    "per-side fits run on the bounded hourly series. A type whose "
    "changepoint is the last hour has n_after = 0 (NULL after-fit); "
    "n_after = 1 gives a NULL slope (undefined) — both engine-pinned.",
    tags=("analytics", "temporal"),
)
def changepoint_segmented_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.plans.analytics import cusum_hourly_cells

    return segmented_trend_from_cells(
        cusum_hourly_cells(spark, sf_dir)
    )


def segmented_trend_from_cells(cells: DataFrame) -> DataFrame:
    """The ITS table from an (event_type, hour, x_c) hourly cent-sum
    grid — the serving tail shared by the batch query and the
    streaming CUSUM monitor's `segmented_report()` (29ak): the same
    additive state serves the changepoint AND the break
    quantification."""
    from mvrs_dspa_spark.plans.analytics import cusum_from_hourly

    cells = cells.localCheckpoint(eager=False)
    cp = cusum_from_hourly(cells).select("event_type", "changepoint_hour")
    w = Window.partitionBy("event_type").orderBy("hour")
    rel = cells.join(cp, "event_type").select(
        "event_type",
        "changepoint_hour",
        "x_c",
        (F.row_number().over(w) - 1).alias("x"),
        F.when(F.col("hour") <= F.col("changepoint_hour"), 0)
        .otherwise(1)
        .alias("seg"),
    )
    sums = rel.groupBy("event_type", "changepoint_hour", "seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("sx"),
        F.sum(F.col("x_c").cast(_DEC)).alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x_c")).alias("sxy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * _d(F.col("sxx")) - _d(F.col("sx")) * _d(F.col("sx"))
    fits = sums.select(
        "event_type",
        "changepoint_hour",
        "seg",
        "n",
        (_d(F.col("sy")) / F.col("n") / 100.0).alias("mean_v"),
        F.when(
            (F.col("n") >= 2) & (den != 0),
            (
                F.col("n") * _d(F.col("sxy"))
                - _d(F.col("sx")) * _d(F.col("sy"))
            )
            / den
            / 100.0,
        ).alias("slope"),
    )
    b = fits.where(F.col("seg") == 0).alias("b")
    a = fits.where(F.col("seg") == 1).alias("a")
    return (
        b.join(a, F.col("a.event_type") == F.col("b.event_type"), "left")
        .select(
            F.col("b.event_type").alias("event_type"),
            F.col("b.changepoint_hour").alias("changepoint_hour"),
            F.col("b.n").cast("long").alias("n_before"),
            F.coalesce(F.col("a.n"), F.lit(0)).cast("long").alias("n_after"),
            F.round(F.col("b.slope"), 6).alias("slope_before"),
            F.round(F.col("a.slope"), 6).alias("slope_after"),
            F.round(F.col("a.slope") - F.col("b.slope"), 6).alias(
                "slope_delta"
            ),
            F.round(F.col("a.mean_v") - F.col("b.mean_v"), 6).alias(
                "level_shift"
            ),
        )
        .orderBy("event_type")
    )


# --- one-way ANOVA + Brown-Forsythe (shared F tail) -------------------------
#
# The parametric mean screen (ANOVA on value) and the robust spread
# screen (Brown-Forsythe 1974: ANOVA on |x - group median|) share one
# F-statistic tail over per-group exact sufficient statistics
# (n, sum, sum-of-squares as decimal/HUGEINT of integer codes). The
# per-group s^2/n terms are int-coded at unit granularity before the
# cross-group sums (the Kruskal-Wallis discipline), so both engines
# build F from identical integers; codes are cents (ANOVA) or
# half-cents (BF: |2*x_c - 2*median| stays integer even for
# even-count medians).


def anova_f_table(sums: DataFrame) -> DataFrame:
    """F table from ``sums(group, n, s, ss)`` exact decimal stats:
    one row — n_total, n_groups, f_stat, eta_sq."""
    terms = sums.select(
        "n",
        "s",
        "ss",
        F.round(_d(F.col("s")) * _d(F.col("s")) / F.col("n"))
        .cast(_DEC)
        .alias("t_c"),
    )
    agg = terms.agg(
        F.sum("n").alias("n_tot"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("s")).alias("s_tot"),
        F.sum(F.col("ss")).alias("ss_tot"),
        F.sum("t_c").alias("t_sum"),
    )
    ssb = _d(F.col("t_sum")) - _d(F.col("s_tot")) * _d(F.col("s_tot")) / F.col(
        "n_tot"
    )
    ssw = _d(F.col("ss_tot")) - _d(F.col("t_sum"))
    sst = _d(F.col("ss_tot")) - _d(F.col("s_tot")) * _d(F.col("s_tot")) / F.col(
        "n_tot"
    )
    # k = 1 (single group) or n = k (one row per group) leave F
    # undefined — NULL, not an ANSI divide-by-zero (the r6
    # embedding_truncation_eval lesson)
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("n_tot") > F.col("k")),
        (ssb / (F.col("k") - 1))
        / F.nullif(ssw / (F.col("n_tot") - F.col("k")), F.lit(0.0)),
    )
    return agg.select(
        F.col("n_tot").cast("long").alias("n_total"),
        F.col("k").cast("long").alias("n_groups"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(ssb / F.nullif(sst, F.lit(0.0)), 6).alias("eta_sq"),
    )


_ANOVA_TAIL_SQL = """
        terms AS (
            SELECT n, s, ss,
                   CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                        AS HUGEINT) AS t_c
            FROM sums
        ),
        agg AS (
            SELECT SUM(n) AS n_tot, COUNT(*) AS k,
                   SUM(s) AS s_tot, SUM(ss) AS ss_tot,
                   SUM(t_c) AS t_sum
            FROM terms
        )
        SELECT CAST(n_tot AS BIGINT) AS n_total,
               CAST(k AS BIGINT) AS n_groups,
               CASE WHEN k > 1 AND n_tot > k THEN
                   ROUND(((CAST(t_sum AS DOUBLE)
                           - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                             / n_tot) / (k - 1))
                         / NULLIF((CAST(ss_tot AS DOUBLE)
                                   - CAST(t_sum AS DOUBLE)) / (n_tot - k),
                                  0), 6)
               END AS f_stat,
               ROUND((CAST(t_sum AS DOUBLE)
                      - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                        / n_tot)
                     / NULLIF(CAST(ss_tot AS DOUBLE)
                              - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                                / n_tot, 0),
                     6) AS eta_sq
        FROM agg
"""


def anova_sums_from_tgrid(tgrid: DataFrame) -> DataFrame:
    """Per-type (n, sum, sum-of-squares) exact decimals from the SAME
    (event_type, v_c, cnt_t) grid the rank tests use — sums over the
    grid are identical to sums over rows (v*cnt, v^2*cnt), so the
    streaming rank-test monitor serves ANOVA from its state too."""
    return tgrid.groupBy(F.col("event_type").alias("grp")).agg(
        F.sum("cnt_t").alias("n"),
        F.sum(F.col("v_c").cast(_DEC) * F.col("cnt_t")).alias("s"),
        F.sum(
            F.col("v_c").cast(_DEC) * F.col("v_c") * F.col("cnt_t")
        ).alias("ss"),
    )


def bf_sums_from_tgrid(tgrid: DataFrame) -> DataFrame:
    """Per-type deviation sums |2*v - 2*median| for Brown-Forsythe,
    entirely from the bounded grid: medians come from the per-type
    cumulative counts (exact integer 2*median = lower-mid +
    upper-mid) and the deviation sums weight each grid cell by its
    count — no second corpus pass, and the monitor's state serves it
    directly."""
    w_less = (
        Window.partitionBy("event_type")
        .orderBy("v_c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("event_type")
    ranked = tgrid.select(
        "event_type",
        "v_c",
        "cnt_t",
        F.coalesce(F.sum("cnt_t").over(w_less), F.lit(0)).alias("n_less"),
        F.sum("cnt_t").over(w_all).alias("n"),
    )
    lo_k = F.expr("(n + 1) div 2")
    hi_k = F.expr("(n + 2) div 2")
    lo = F.min(
        F.when(
            (F.col("n_less") < lo_k)
            & (F.col("n_less") + F.col("cnt_t") >= lo_k),
            F.col("v_c"),
        )
    )
    hi = F.min(
        F.when(
            (F.col("n_less") < hi_k)
            & (F.col("n_less") + F.col("cnt_t") >= hi_k),
            F.col("v_c"),
        )
    )
    med = ranked.groupBy("event_type").agg((lo + hi).alias("m2"))
    z = F.abs(2 * F.col("v_c") - F.col("m2"))
    return (
        tgrid.join(med, "event_type")
        .groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.sum("cnt_t").alias("n"),
            F.sum(z.cast(_DEC) * F.col("cnt_t")).alias("s"),
            F.sum(z.cast(_DEC) * z * F.col("cnt_t")).alias("ss"),
        )
    )


@register(
    "value_anova_by_type",
    oracle=f"""
        WITH coded AS (
            SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v_c
            FROM events
        ),
        tgrid AS (
            SELECT event_type, v_c, COUNT(*) AS cnt_t
            FROM coded GROUP BY 1, 2
        ),
        sums AS (
            SELECT event_type AS grp, SUM(cnt_t) AS n,
                   SUM(CAST(v_c AS HUGEINT) * cnt_t) AS s,
                   SUM(CAST(v_c AS HUGEINT) * v_c * cnt_t) AS ss
            FROM tgrid GROUP BY 1
        ),
        {_ANOVA_TAIL_SQL}
    """,
    doc="One-way ANOVA of event value across types (Fisher F) with "
    "eta-squared effect size — the k-group parametric companion to "
    "Kruskal-Wallis #179 (KW ranks, ANOVA means; disagreement "
    "between the two flags heavy tails). Per-type sufficient "
    "statistics are exact cent-code sums (decimal/HUGEINT); the "
    "per-group s^2/n terms int-code at unit granularity before the "
    "cross-group sum (the KW discipline), and F/eta^2 are single "
    "per-row formulas. The cent^2 scale cancels in both ratios.",
    tags=("analytics", "validation"),
)
def value_anova_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anova_f_table(
        anova_sums_from_tgrid(events_tgrid(spark, sf_dir))
    )


@register(
    "value_brown_forsythe",
    oracle=f"""
        WITH coded AS (
            SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v_c
            FROM events
        ),
        tgrid AS (
            SELECT event_type, v_c, COUNT(*) AS cnt_t
            FROM coded GROUP BY 1, 2
        ),
        ranked AS (
            SELECT event_type, v_c, cnt_t,
                   COALESCE(SUM(cnt_t) OVER (
                       PARTITION BY event_type ORDER BY v_c
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS n_less,
                   SUM(cnt_t) OVER (PARTITION BY event_type) AS n
            FROM tgrid
        ),
        med AS (
            -- 2*median as an exact integer: lower mid + upper mid
            SELECT event_type,
                   MIN(CASE WHEN n_less < (n + 1) // 2
                            AND n_less + cnt_t >= (n + 1) // 2
                            THEN v_c END)
                 + MIN(CASE WHEN n_less < (n + 2) // 2
                            AND n_less + cnt_t >= (n + 2) // 2
                            THEN v_c END) AS m2
            FROM ranked GROUP BY event_type
        ),
        sums AS (
            -- deviation sums entirely on the bounded grid: each cell
            -- weights |2v - 2med| by its count (no second corpus pass)
            SELECT t.event_type AS grp, SUM(t.cnt_t) AS n,
                   SUM(CAST(ABS(2 * t.v_c - m.m2) AS HUGEINT)
                       * t.cnt_t) AS s,
                   SUM(CAST(ABS(2 * t.v_c - m.m2) AS HUGEINT)
                       * ABS(2 * t.v_c - m.m2) * t.cnt_t) AS ss
            FROM tgrid t JOIN med m ON m.event_type = t.event_type
            GROUP BY 1
        ),
        {_ANOVA_TAIL_SQL}
    """,
    doc="Brown-Forsythe robust homogeneity-of-variance test (Brown & "
    "Forsythe 1974): one-way ANOVA on |x - group median| — 'do event "
    "types differ in SPREAD', the question the mean screens (#109, "
    "ANOVA) and rank screens (#178/#179) cannot answer, and the "
    "precondition check for pooled-variance methods. Group medians "
    "come from the bounded per-type cent grid (exact integer "
    "2*median = lower-mid + upper-mid, so even-count medians stay "
    "integral); deviations |2x - 2med| are integers feeding the "
    "SHARED anova_f_table tail. One corpus scan builds the grid, a "
    "second builds the deviation sums (the median cannot be known "
    "before the first completes — inherently two-pass).",
    tags=("analytics", "validation"),
)
def value_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anova_f_table(
        bf_sums_from_tgrid(events_tgrid(spark, sf_dir))
    )


# --- distributed Poisson bootstrap CI ---------------------------------------
#
# The Poisson bootstrap (Hanley & MacGibbon 2006; the distributed
# resampling scheme behind Bag-of-Little-Bootstraps-era systems):
# multinomial resampling needs the global n, but Poisson(1) weights
# are row-independent — each row carries B deterministic weights from
# the house affine hash, so replicate sufficient statistics are ONE
# map-side-combined aggregation over a 64x exploded stream, and the
# percentile machinery runs on B rows per type. Weights come from the
# inverse Poisson(1) CDF on an affine-uniform u (both engines
# evaluate the identical threshold ladder on identical integers).

BOOT_B = 64
_BOOT_A, _BOOT_B_ = H.hash_params(1, seed=4242)[0]
# cumulative Poisson(1) pmf thresholds for the inverse-CDF ladder
_POIS_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)
_BOOT_QS = (0.025, 0.975)


def _boot_w_col(u: Column) -> Column:
    w = F.lit(6)
    for k in range(len(_POIS_CUM) - 1, -1, -1):
        w = F.when(u < _POIS_CUM[k], F.lit(k)).otherwise(w)
    return w


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUM)
    )
    return f"(CASE {cases} ELSE 6 END)"


def bootstrap_rep_sums(ev: DataFrame) -> DataFrame:
    """Per-(type, replicate) weighted sufficient statistics
    ``(event_type, b, swx, sw)`` from an events frame — ADDITIVE
    (exact decimal/int64 sums keyed by the pure event_id hash), which
    is what lets the streaming monitor (29an) merge them per
    micro-batch; ONE definition shared with the batch query."""
    ex = ev.select(
        "event_type",
        rank_cents_col().alias("x"),
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    u = H.affine_col(
        F.col("event_id") * BOOT_B + F.col("b"), _BOOT_A, _BOOT_B_
    ) / F.lit(float(H.P))
    w = ex.select("event_type", "x", "b", _boot_w_col(u).alias("w"))
    return w.groupBy("event_type", "b").agg(
        F.sum(F.col("w").cast(_DEC) * F.col("x")).alias("swx"),
        F.sum("w").alias("sw"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("sx"),
    )


def bootstrap_ci_from_reps(reps_raw: DataFrame) -> DataFrame:
    """The CI table from the additive replicate sums — serving tail
    shared by the batch query and the streaming monitor. The full-
    sample mean/count ride the b=0 replicate row's (n, sx) columns
    (identical across replicates by construction)."""
    reps = (
        reps_raw.where(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            F.round(_d(F.col("swx")) / (_d(F.col("sw")) * 100), 6).alias(
                "mean_r"
            ),
        )
    )
    wp = Window.partitionBy("event_type")
    ranked = reps.select(
        "event_type",
        "b",
        "mean_r",
        F.row_number().over(wp.orderBy("mean_r", "b")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("nb"),
    )
    ci_cols = []
    for q, name in zip(_BOOT_QS, ("lo", "hi")):
        h = q * (F.col("nb") - 1)
        lo_idx = F.floor(h)
        frac = h - lo_idx
        ci_cols.append(
            F.round(
                F.sum(
                    F.when(F.col("rn") - 1 == lo_idx, F.col("mean_r") * (1 - frac))
                    .when(F.col("rn") - 1 == lo_idx + 1, F.col("mean_r") * frac)
                    .otherwise(0.0)
                ),
                6,
            ).alias(f"ci_{name}")
        )
    ci = ranked.groupBy("event_type").agg(*ci_cols)
    # the full-sample mean/count from any single replicate's riding
    # (n, sx) columns — identical across replicates by construction
    full = reps_raw.where(F.col("b") == 0).select(
        "event_type",
        F.round(_d(F.col("sx")) / (F.col("n") * 100.0), 6).alias("mean_v"),
        F.col("n").cast("long").alias("n"),
    )
    return (
        full.join(ci, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            "mean_v",
            "ci_lo",
            "ci_hi",
        )
        .orderBy("event_type")
    )


@register(
    "bootstrap_mean_ci",
    oracle=f"""
        WITH ex AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS x,
                   unnest(generate_series(0, {BOOT_B - 1})) AS b,
                   event_id
            FROM events
        ),
        w AS (
            SELECT event_type, x, b,
                   {_boot_w_sql(
                       f"({H.affine_sql(f'event_id * {BOOT_B} + b', _BOOT_A, _BOOT_B_)}"
                       f" / CAST({H.P} AS DOUBLE))"
                   )} AS w
            FROM ex
        ),
        reps AS (
            SELECT event_type, b,
                   ROUND(SUM(CAST(w AS HUGEINT) * x)
                         / (CAST(SUM(w) AS DOUBLE) * 100), 6) AS mean_r
            FROM w GROUP BY 1, 2
            HAVING SUM(w) > 0
        ),
        ranked AS (
            SELECT event_type, b, mean_r,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY mean_r, b) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS nb
            FROM reps
        ),
        ci AS (
            SELECT event_type,
                   {", ".join(
                       f'''ROUND(SUM(CASE
                           WHEN rn - 1 = CAST(FLOOR({q} * (nb - 1)) AS BIGINT)
                           THEN mean_r * (1 - ({q} * (nb - 1)
                                - FLOOR({q} * (nb - 1))))
                           WHEN rn - 1 = CAST(FLOOR({q} * (nb - 1)) AS BIGINT) + 1
                           THEN mean_r * ({q} * (nb - 1)
                                - FLOOR({q} * (nb - 1)))
                           ELSE 0 END), 6) AS ci_{name}'''
                       for q, name in zip(_BOOT_QS, ("lo", "hi"))
                   )}
            FROM ranked GROUP BY event_type
        ),
        full_m AS (
            SELECT event_type,
                   ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT))
                         / (COUNT(*) * 100.0), 6) AS mean_v,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        )
        SELECT f.event_type, f.n, f.mean_v, c.ci_lo, c.ci_hi
        FROM full_m f JOIN ci c ON c.event_type = f.event_type
        ORDER BY f.event_type
    """,
    doc=f"Distributed Poisson bootstrap 95% CI of mean value per event "
    f"type ({BOOT_B} replicates; Hanley-MacGibbon 2006 — Poisson(1) "
    "weights are row-independent, which is exactly what makes the "
    "bootstrap distributable: no global-n multinomial draw). Each "
    "row carries B deterministic weights (inverse Poisson CDF on the "
    "affine-uniform hash of event_id x replicate), replicate means "
    "are ONE map-side-combined aggregation over the 64x exploded "
    "stream (exact HUGEINT/decimal weighted cent sums, one division "
    "per replicate), and the interpolated 2.5/97.5 percentiles run "
    "on the B-row-per-type replicate frame (means ROUNDED before "
    "ranking, replicate id tiebreak — round-before-rank).",
    tags=("analytics", "validation"),
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return bootstrap_ci_from_reps(bootstrap_rep_sums(ev))


# --- difference-in-differences ----------------------------------------------
#
# The quasi-experimental workhorse completing the causal family
# (fixed-horizon #10ap, CUPED #160, uplift #168, SPRT 29ae/#167,
# removal-effect #131, Shapley #180): arms from the SHARED
# deterministic user hash (sprt_arm_filter — the same bucketing every
# experiment query uses), periods from the halfway time split (the
# drift-family convention), y = event value. DiD = (post-pre)_treated
# - (post-pre)_control with the unpooled four-cell SE.

from mvrs_dspa_spark.plans.analytics4 import _AB_A, sprt_arm_filter  # noqa: E402


@register(
    "did_analysis",
    oracle=f"""
        WITH labeled AS (
            SELECT CASE WHEN (({_AB_A}::BIGINT * (user_id % 2147483647))
                             % 2147483647) % 2 = 1
                        THEN 1 ELSE 0 END AS treated,
                   CASE WHEN epoch_us(ts) <
                            (SELECT MIN(epoch_us(ts))
                                 + (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
                                   // 2
                             FROM events)
                        THEN 0 ELSE 1 END AS post,
                   CAST(ROUND(value * 100) AS BIGINT) AS x
            FROM events
        ),
        cells AS (
            SELECT treated, post, COUNT(*) AS n,
                   SUM(CAST(x AS HUGEINT)) AS s,
                   SUM(CAST(x AS HUGEINT) * x) AS ss
            FROM labeled GROUP BY 1, 2
        ),
        m AS (
            SELECT treated, post, n,
                   CAST(s AS DOUBLE) / n / 100 AS mean_v,
                   (n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n AS DOUBLE) * n * (n - 1)) / 10000 AS var_v
            FROM cells
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t_pre,
                MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t_post,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_c_pre,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_c_post,
                MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_v END) AS m_t_pre,
                MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_v END) AS m_t_post,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_v END) AS m_c_pre,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_v END) AS m_c_post,
                MAX(CASE WHEN treated = 1 AND post = 0 THEN var_v / n END) AS v_t_pre,
                MAX(CASE WHEN treated = 1 AND post = 1 THEN var_v / n END) AS v_t_post,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN var_v / n END) AS v_c_pre,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN var_v / n END) AS v_c_post
            FROM m
        ),
        wide2 AS (
            -- fixed-order per-row addition: no aggregate double sum,
            -- so summation order cannot differ between engines
            SELECT *, ((v_t_pre + v_t_post) + v_c_pre) + v_c_post AS se2
            FROM wide
        )
        SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre,
               CAST(n_t_post AS BIGINT) AS n_t_post,
               CAST(n_c_pre AS BIGINT) AS n_c_pre,
               CAST(n_c_post AS BIGINT) AS n_c_post,
               ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6)
                   AS did_estimate,
               ROUND(sqrt(se2), 6) AS se,
               ROUND(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                     / NULLIF(sqrt(se2), 0), 6) AS t_stat
        FROM wide2
    """,
    doc="Difference-in-differences analysis of event value — the "
    "quasi-experimental estimator completing the causal family "
    "(CUPED #160 reduces variance WITHIN a randomized post-period; "
    "DiD removes shared TRENDS when pre-period levels differ): arms "
    "from the SHARED deterministic user hash every experiment query "
    "buckets with (sprt_arm_filter), periods from the halfway time "
    "split (the drift-family convention), four exact cent-sum cells "
    "(decimal/HUGEINT), unpooled SE over the cells, and the DiD "
    "estimate with its t statistic as single per-row formulas. The "
    "se2 sum crosses only 4 cells whose var/n terms derive from "
    "exact integers — identical doubles both engines.",
    tags=("analytics", "validation"),
)
def did_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    labeled = ev.crossJoin(F.broadcast(rng)).select(
        F.when(sprt_arm_filter(), 1).otherwise(0).alias("treated"),
        F.when(
            F.unix_micros("ts") < F.col("mn") + F.expr("(mx - mn) div 2"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("post"),
        rank_cents_col().alias("x"),
    )
    cells = labeled.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("s"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("ss"),
    )
    m = cells.select(
        "treated",
        "post",
        "n",
        (_d(F.col("s")) / F.col("n") / 100).alias("mean_v"),
        (
            (F.col("n") * _d(F.col("ss")) - _d(F.col("s")) * _d(F.col("s")))
            / (_d(F.col("n")) * F.col("n") * (F.col("n") - 1))
            / 10000
        ).alias("var_v"),
    ).withColumn("vn", F.col("var_v") / F.col("n"))

    def cell(t, p, col):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    wide = m.agg(
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(0, 0, "n").alias("n_c_pre"),
        cell(0, 1, "n").alias("n_c_post"),
        cell(1, 0, "mean_v").alias("m_t_pre"),
        cell(1, 1, "mean_v").alias("m_t_post"),
        cell(0, 0, "mean_v").alias("m_c_pre"),
        cell(0, 1, "mean_v").alias("m_c_post"),
        cell(1, 0, "vn").alias("v_t_pre"),
        cell(1, 1, "vn").alias("v_t_post"),
        cell(0, 0, "vn").alias("v_c_pre"),
        cell(0, 1, "vn").alias("v_c_post"),
    ).withColumn(
        "se2",
        (
            (F.col("v_t_pre") + F.col("v_t_post")) + F.col("v_c_pre")
        )
        + F.col("v_c_post"),
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    return wide.select(
        F.col("n_t_pre").cast("long").alias("n_t_pre"),
        F.col("n_t_post").cast("long").alias("n_t_post"),
        F.col("n_c_pre").cast("long").alias("n_c_pre"),
        F.col("n_c_post").cast("long").alias("n_c_post"),
        F.round(did, 6).alias("did_estimate"),
        F.round(F.sqrt(F.col("se2")), 6).alias("se"),
        F.round(
            did / F.nullif(F.sqrt(F.col("se2")), F.lit(0.0)), 6
        ).alias("t_stat"),
    )


# --- capture-recapture distinct estimate ------------------------------------
#
# Chapman's bias-corrected Lincoln-Petersen estimator (Chapman 1951):
# treat the two time halves as capture occasions; the overlap of
# their user sets estimates the total population the log ever draws
# from — the STATISTICAL distinct estimate sitting next to the
# algorithmic sketches (HLL #84, theta #108), and the sample-coverage
# question ('how much of the user base did this window see') neither
# sketch answers. One distinct-user aggregation carrying min/max
# period flags; everything after runs on one row.


def capture_table_from_flags(per_user: DataFrame) -> DataFrame:
    """The Chapman estimate from a (user_id, in1, in2) capture-flag
    frame — serving tail shared by the batch query and the streaming
    monitor (streaming/capture_stream.CaptureMonitor), whose state IS
    the flag frame (user-dimension-bounded, OR-mergeable)."""
    s = per_user.agg(
        F.sum("in1").alias("n1"),
        F.sum("in2").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).alias("m"),
        F.count(F.lit(1)).alias("observed"),
    )
    chap = (_d(F.col("n1")) + 1) * (F.col("n2") + 1) / (F.col("m") + 1) - 1
    return s.select(
        F.col("n1").cast("long").alias("n_first_half"),
        F.col("n2").cast("long").alias("n_second_half"),
        F.col("m").cast("long").alias("n_both"),
        F.col("observed").cast("long").alias("n_observed"),
        F.round(chap, 4).alias("chapman_estimate"),
        F.round(
            _d(F.col("observed")) / F.nullif(chap, F.lit(0.0)), 6
        ).alias("coverage"),
    )


def capture_flags(ev: DataFrame) -> DataFrame:
    """(user_id, in1, in2) capture flags from an events frame with a
    given halfway split derived from the frame itself (batch form)."""
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    labeled = ev.crossJoin(F.broadcast(rng)).select(
        "user_id",
        F.when(
            F.unix_micros("ts") < F.col("mn") + F.expr("(mx - mn) div 2"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("period"),
    )
    return labeled.groupBy("user_id").agg(
        F.max(F.when(F.col("period") == 0, 1).otherwise(0)).alias("in1"),
        F.max(F.when(F.col("period") == 1, 1).otherwise(0)).alias("in2"),
    )


@register(
    "user_capture_recapture",
    oracle="""
        WITH labeled AS (
            SELECT user_id,
                   CASE WHEN epoch_us(ts) <
                            (SELECT MIN(epoch_us(ts))
                                 + (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
                                   // 2
                             FROM events)
                        THEN 0 ELSE 1 END AS period
            FROM events
        ),
        per_user AS (
            SELECT user_id,
                   MAX(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS in1,
                   MAX(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS in2
            FROM labeled GROUP BY user_id
        ),
        s AS (
            SELECT SUM(in1) AS n1, SUM(in2) AS n2,
                   SUM(in1 * in2) AS m, COUNT(*) AS observed
            FROM per_user
        )
        SELECT CAST(n1 AS BIGINT) AS n_first_half,
               CAST(n2 AS BIGINT) AS n_second_half,
               CAST(m AS BIGINT) AS n_both,
               CAST(observed AS BIGINT) AS n_observed,
               ROUND((CAST(n1 AS DOUBLE) + 1) * (n2 + 1) / (m + 1) - 1, 4)
                   AS chapman_estimate,
               ROUND(CAST(observed AS DOUBLE)
                     / NULLIF((CAST(n1 AS DOUBLE) + 1) * (n2 + 1)
                              / (m + 1) - 1, 0), 6) AS coverage
        FROM s
    """,
    doc="Chapman capture-recapture population estimate (Chapman 1951 "
    "bias-corrected Lincoln-Petersen): the two time halves are "
    "capture occasions, and the user-set overlap estimates the TOTAL "
    "population the log draws from — the statistical distinct "
    "estimate next to the algorithmic sketches (HLL #84, theta "
    "#108), answering the coverage question ('what fraction of the "
    "user base did this window observe') no sketch of the observed "
    "stream can. ONE distinct-user aggregation with min/max period "
    "flags; the estimator is a single-row formula over exact "
    "integer counts.",
    tags=("analytics", "sketch", "validation"),
)
def user_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return capture_table_from_flags(capture_flags(ev))


# --- Cochran-Armitage trend test --------------------------------------------
#
# Is the conversion RATE trending across ordered days? (Cochran 1954 /
# Armitage 1955.) The categorical-trend complement of Mann-Kendall
# (#187 trends a measure; this trends a proportion) on the SAME
# measurement surface as the SPRT monitor (shared sprt_day_col /
# sprt_success_col definitions): scores = relative day index, and the
# z statistic is a single formula over five exact integer sums.

from mvrs_dspa_spark.plans.analytics4 import (  # noqa: E402
    sprt_day_col,
    sprt_success_col,
)
from mvrs_dspa_spark.plans.analytics4 import _DAY_US as _CA_DAY_US  # noqa: E402


@register(
    "conversion_trend_cochran_armitage",
    oracle=f"""
        WITH daily AS (
            SELECT epoch_us(ts) // {_CA_DAY_US} AS day,
                   COUNT(*) AS n,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS s
            FROM events GROUP BY 1
        ),
        rel AS (
            SELECT day - (SELECT MIN(day) FROM daily) AS w, n, s
            FROM daily
        ),
        sums AS (
            SELECT COUNT(*) AS k,
                   SUM(n) AS nn, SUM(s) AS ss,
                   SUM(CAST(w AS HUGEINT) * n) AS swn,
                   SUM(CAST(w AS HUGEINT) * s) AS sws,
                   SUM(CAST(w AS HUGEINT) * w * n) AS swwn
            FROM rel
        )
        SELECT CAST(k AS BIGINT) AS n_days,
               CAST(nn AS BIGINT) AS n_trials,
               CAST(ss AS BIGINT) AS n_success,
               ROUND((CAST(sws AS DOUBLE)
                      - CAST(ss AS DOUBLE) * CAST(swn AS DOUBLE) / nn)
                     / NULLIF(sqrt(
                           (CAST(ss AS DOUBLE) / nn)
                           * (1 - CAST(ss AS DOUBLE) / nn)
                           * (CAST(swwn AS DOUBLE)
                              - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                                / nn)), 0), 6) AS z_ca,
               CASE WHEN (CAST(sws AS DOUBLE)
                          - CAST(ss AS DOUBLE) * CAST(swn AS DOUBLE) / nn)
                         / NULLIF(sqrt(
                               (CAST(ss AS DOUBLE) / nn)
                               * (1 - CAST(ss AS DOUBLE) / nn)
                               * (CAST(swwn AS DOUBLE)
                                  - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                                    / nn)), 0) > 1.96 THEN 'increasing'
                    WHEN (CAST(sws AS DOUBLE)
                          - CAST(ss AS DOUBLE) * CAST(swn AS DOUBLE) / nn)
                         / NULLIF(sqrt(
                               (CAST(ss AS DOUBLE) / nn)
                               * (1 - CAST(ss AS DOUBLE) / nn)
                               * (CAST(swwn AS DOUBLE)
                                  - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                                    / nn)), 0) < -1.96 THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM sums
    """,
    doc="Cochran-Armitage trend test of the daily conversion rate "
    "(Cochran 1954/Armitage 1955) — 'is the purchase share drifting "
    "monotonically across days', the categorical-trend complement of "
    "Mann-Kendall #187 (which trends a measure; this trends a "
    "PROPORTION), on the SAME measurement surface the SPRT monitor "
    "sequences (shared sprt_day_col/sprt_success_col definitions). "
    "Scores are relative day indexes; z is one formula over five "
    "exact integer sums (decimal/HUGEINT weighted counts); verdict "
    "at |z| > 1.96.",
    tags=("analytics", "validation"),
)
def conversion_trend_cochran_armitage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.select(sprt_day_col(), sprt_success_col()).groupBy(
        "day"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("success").alias("s"))
    mn = daily.agg(F.min("day").alias("mnd"))
    rel = daily.crossJoin(F.broadcast(mn)).select(
        (F.col("day") - F.col("mnd")).alias("w"), "n", "s"
    )
    sums = rel.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum(F.col("w").cast(_DEC) * F.col("n")).alias("swn"),
        F.sum(F.col("w").cast(_DEC) * F.col("s")).alias("sws"),
        F.sum(F.col("w").cast(_DEC) * F.col("w") * F.col("n")).alias(
            "swwn"
        ),
    )
    p = _d(F.col("ss")) / F.col("nn")
    num = _d(F.col("sws")) - _d(F.col("ss")) * _d(F.col("swn")) / F.col("nn")
    den = F.nullif(
        F.sqrt(
            p
            * (1 - p)
            * (
                _d(F.col("swwn"))
                - _d(F.col("swn")) * _d(F.col("swn")) / F.col("nn")
            )
        ),
        F.lit(0.0),
    )
    z = num / den
    return sums.select(
        F.col("k").cast("long").alias("n_days"),
        F.col("nn").cast("long").alias("n_trials"),
        F.col("ss").cast("long").alias("n_success"),
        F.round(z, 6).alias("z_ca"),
        F.when(z > 1.96, F.lit("increasing"))
        .when(z < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )
