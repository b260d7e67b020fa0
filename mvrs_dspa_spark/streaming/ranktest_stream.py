"""Streaming nonparametric rank-test monitor (§2e 29al; the
continuous form of `plans/analytics5.value_mannwhitney_by_type` #178
and `kruskal_wallis_value` #179).

The midrank machinery is additive: the sufficient statistic for BOTH
tests is the (event_type, v_c, cnt_t) cent-count grid, and int64
counts merge across micro-batches in any order (the CUSUM-grid
property). State is therefore value-DOMAIN-bounded x types — the
global tie/rank structure is recomputed at serving time from the
maintained grid through the SHARED `rank_stats_from_tgrid` /
`mannwhitney_table` / `kruskal_wallis_table` tails, so a replayed log
reproduces the batch tables EXACTLY (batch==stream pins; every
accumulator is integer/decimal until the final per-row formulas).

This is the continuously-monitored form of a robust A/B screen: the
SPRT monitor (29ae) sequences a Bernoulli metric, this one watches
the full value DISTRIBUTION per arm without normality assumptions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.analytics5 import (
    kruskal_wallis_table,
    mannwhitney_table,
    rank_cents_col,
    rank_stats_from_tgrid,
)
from mvrs_dspa_spark.streaming.monitor import Monitor, summed

GRID_SCHEMA = "event_type string, v_c long, cnt_t long"


class RankTestMonitor(Monitor):
    """Maintains the additive per-type cent-count grid across
    micro-batches; serves both rank tests from one state."""

    STATE = {"grid": (GRID_SCHEMA, "event_type")}

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = (
            batch_df.select("event_type", rank_cents_col().alias("v_c"))
            .groupBy("event_type", "v_c")
            .agg(F.count(F.lit(1)).alias("cnt_t"))
        )
        return {"grid": summed(self.grid, delta, ["event_type", "v_c"])}

    def report(self) -> DataFrame:
        """Mann-Whitney table through the SAME serving tail as #178."""
        per, tot = rank_stats_from_tgrid(self.grid)
        return mannwhitney_table(per, tot)

    def kw_report(self) -> DataFrame:
        """Kruskal-Wallis table through the SAME serving tail as #179
        — one maintained state, two test statistics."""
        per, tot = rank_stats_from_tgrid(self.grid)
        return kruskal_wallis_table(per, tot)

    def anova_report(self) -> DataFrame:
        """One-way ANOVA (#192) from the SAME grid: sums over cells
        (v*cnt, v^2*cnt) are identical to sums over rows — a third
        statistic from the one maintained state."""
        from mvrs_dspa_spark.plans.analytics5 import (
            anova_f_table,
            anova_sums_from_tgrid,
        )

        return anova_f_table(anova_sums_from_tgrid(self.grid))

    def bf_report(self) -> DataFrame:
        """Brown-Forsythe (#193) from the SAME grid: medians from the
        per-type cumulative counts, deviation sums weighted by cell
        counts — a fourth statistic, still one state."""
        from mvrs_dspa_spark.plans.analytics5 import (
            anova_f_table,
            bf_sums_from_tgrid,
        )

        return anova_f_table(bf_sums_from_tgrid(self.grid))
