"""Streaming Bloom filter maintenance (§2e 29aj; the continuous form
of `operators/sketches.bloom_membership_report`, #132).

Bloom bits are a monotone set: merging a micro-batch is a distinct
UNION of its known-user bit positions into the <= m-row bit state —
order-independent, so the maintained filter EQUALS the batch-built
filter over the full log (batch==stream pytest pin on both the bit set
and the claimed-membership set). State is bounded by m bits no matter
the event volume.

Serving: `claims(probes)` runs the SAME `bloom_claims` tail as the
batch query; `report()` serves the filter-level stats computable from
bounded state (m, k, bits_set, theoretical fp rate — the known-set
audit columns of #132 need the exact member list, unavailable from a
Bloom filter BY CONSTRUCTION, same exact=False stance as ThetaMonitor).

GDPR: a plain Bloom filter CANNOT delete — a bit may be shared by any
number of members, so clearing the subject's bits would create false
negatives for others (the one error class Bloom promises never to
make). `erase_users` therefore raises, with the documented remediation
being a rebuild from the retained log (counting-Bloom state is the
alternative, but exact counting of DISTINCT members per bit requires
member-level state, defeating the bounded-bits point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.sketches import (
    BLOOM_K,
    BLOOM_M,
    bloom_bits,
    bloom_claims,
)
from mvrs_dspa_spark.streaming.monitor import Monitor

STATE_SCHEMA = "bit long"


def known_filter(df: DataFrame) -> DataFrame:
    """The batch query's known-member predicate (#132), shared."""
    return df.select("user_id").where(F.col("user_id") % 3 != 0)


class BloomMonitor(Monitor):
    """Maintains the set-bit table across micro-batches."""

    STATE = {"state": (STATE_SCHEMA, None)}

    def step(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = bloom_bits(known_filter(batch_df))
        return {"state": self.state.unionByName(delta).distinct()}

    def claims(self, probes: DataFrame) -> DataFrame:
        """user_id rows the maintained filter claims present — the
        SAME serving tail as the batch query."""
        return bloom_claims(probes, self.state)

    def report(self) -> DataFrame:
        """Filter-level stats computable from the bounded bit state."""
        return self.state.agg(
            F.lit(BLOOM_M).alias("m_bits"),
            F.lit(BLOOM_K).alias("k_hashes"),
            F.count(F.lit(1)).alias("bits_set"),
            F.round(
                F.pow(F.count(F.lit(1)) / float(BLOOM_M), BLOOM_K), 6
            ).alias("fp_theoretical"),
        )

    def erase_users(self, user_ids) -> None:
        """Structurally unsupported (see module doc): clearing shared
        bits would break the zero-false-negative guarantee for other
        members. Rebuild from the retained log instead."""
        raise NotImplementedError(
            "Bloom bits are shared evidence; deletion requires a "
            "rebuild from the retained log (or member-level counting "
            "state, which defeats the bounded-bits design)"
        )
