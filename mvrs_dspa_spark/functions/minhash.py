"""MinHash + LSH building blocks with exact Spark/DuckDB mirrors.

Re-expression of the reference's algebird-based MinHasher pipeline
(`jobs/recommendations/RecommendationUtils.scala`,
`RecommendationsJob.scala:95-110`: signature → LSH buckets →
candidates → similarity → top-N) with an engine-portable hash family
(`functions/hashing.py`).

Scale shape: signatures are one partial-aggregated shuffle on the set
id (n min-columns); banding is a projection; the candidate join
shuffles only (band, band_hash) keys. Estimated similarity is the
matching-component fraction of two fixed-width signatures — a
map-side zip, no extra shuffle. At 100 TB the only heavy exchange is
the item explode feeding the signature aggregation.

The wide generated families (32 affine mins, per-hash array_min
transforms, 16 band-hash folds) are built from their SQL text with one
``F.expr`` each: the text is the one DuckDB runs (CAST, not ``::``, so
Spark 3.5 parses it too), and one parse replaces the hundreds of py4j
round trips the same tree costs through the Column API. The optimized
plans are the same either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import hashing as H


def _signature_mins(code_col: str, params: list[tuple[int, int]]) -> list[str]:
    return [
        f"MIN({H.affine_sql(code_col, a, b)}) AS m{i}" for i, (a, b) in enumerate(params)
    ]


def signature_df(
    items: DataFrame, id_col: str, code_col: str, params: list[tuple[int, int]]
) -> DataFrame:
    """Wide minhash signature: one m{i} column per hash."""
    return items.groupBy(id_col).agg(
        *[F.expr(m) for m in _signature_mins(code_col, params)]
    )


def signature_sql(
    items_sql: str, id_col: str, code_col: str, params: list[tuple[int, int]]
) -> str:
    mins = ",\n               ".join(_signature_mins(code_col, params))
    return f"SELECT {id_col}, {mins}\n        FROM ({items_sql})\n        GROUP BY {id_col}"


def _wide(i: int) -> str:
    return f"m{i}"


def _band_hash_sql(band: int, rows: int, component=_wide) -> str:
    """Band hash: 31-polynomial fold mod P over the band's signature
    components; ``component(i)`` spells component i (wide m{i} columns
    by default)."""
    acc = "CAST(0 AS BIGINT)"
    for i in range(band * rows, (band + 1) * rows):
        acc = f"(({acc}) * 31 + {component(i)}) % {H.P}"
    return acc


def _band_hashes_col(n: int, bands: int, component=_wide) -> Column:
    """ARRAY of all ``bands`` band hashes, one expression."""
    rows = n // bands
    return F.expr(
        f"array({', '.join(_band_hash_sql(j, rows, component) for j in range(bands))})"
    )


def candidate_pairs_df(sig: DataFrame, id_col: str, n: int, bands: int) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH bucket."""
    rows = n // bands
    structs = ", ".join(
        f"struct({j} AS band, {_band_hash_sql(j, rows)} AS bh)" for j in range(bands)
    )
    buckets = sig.select(
        F.col(id_col), F.explode(F.expr(f"array({structs})")).alias("bk")
    ).select(id_col, "bk.band", "bk.bh")
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bh") == F.col(f"b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def bucket_rows_df(
    sig: DataFrame, id_col: str, n: int, bands: int, with_bhs: bool = False
) -> DataFrame:
    """(id, sg[, bhs], band, bh) rows: one per (set, band), the full
    signature array riding along so similarity can be scored wherever
    two bucket rows first meet (no signature re-join). With
    ``with_bhs`` the per-set array of ALL band hashes also rides
    (computed once in the same pre-explode projection the band hashes
    already live in), so the first-matching-band dedup filter can
    compare earlier bands without recomputing any fold."""
    bhs = _band_hashes_col(n, bands)
    out = sig.select(
        F.col(id_col),
        F.expr(f"array({', '.join(_wide(i) for i in range(n))})").alias("sg"),
        bhs.alias("bhs"),
        F.posexplode(bhs).alias("band", "bh"),
    )
    return out if with_bhs else out.drop("bhs")


def sig_match_count_col(a: Column, b: Column) -> Column:
    """Matching components between two signature ARRAY columns (int),
    as the zip_with+aggregate fold.

    An unrolled 32-term element_at chain was tried in r12 and
    REVERTED on measurement: past ~100 expression nodes the chain
    defeats whole-stage codegen for the whole stage and the fallback
    runs several times slower than this fold (same microbench as
    ann.dot_col — fold 0.50 s vs unrolled-32 2.55 s on 2M rows; the
    r11 PQ-chain lesson §22 generalizes to element_at chains of every
    width). The HOF fold is the fastest exact form on this engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def sig_match_count_sql(n: int) -> str:
    """DuckDB mirror over sa.m{i}/sb.m{i} wide columns (int)."""
    return " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(n))


def _first_matching_band_only(joined: DataFrame) -> DataFrame:
    """Keep each candidate pair's row for its FIRST matching band only.

    The band self-join emits one row per SHARED band of a pair; the
    duplicates used to survive to a groupBy(id_a, id_b) dedup — a full
    Exchange of the candidate stream. A pair's set membership is
    decided by bh equality (the join key), so comparing the earlier
    bands' PRE-COMPUTED hashes (the bhs arrays riding both sides) and
    dropping any row with an earlier bh match emits every pair
    EXACTLY once, map-side, before any exchange (guide §2.3
    aggregate-before-shuffle / §2.4 remove shuffles outright).
    Equality is on bh (not raw band slices) so hash-collision
    candidates dedup identically to the old distinct/groupBy.
    """
    # zip the two sides' PRE-COMPUTED earlier-band hash prefixes (the
    # bhs arrays ride the bucket rows; slice length == band, so band 0
    # zips two empty arrays -> exists is false). A recompute-the-fold
    # variant (sequence + aggregate over sg slices) was measured 3.6x
    # slower per candidate row; this form also beat the groupBy dedup
    # it replaces outright (0.49 s vs 0.55 s on the same 210k
    # candidates) while deleting the exchange.
    earlier = F.exists(
        F.zip_with(
            F.slice(F.col("a.bhs"), 1, F.col("a.band")),
            F.slice(F.col("b.bhs"), 1, F.col("b.band")),
            lambda x, y: x == y,
        ),
        lambda v: v,
    )
    return joined.where(~earlier)


# The scored-pair entry points materialize the (narrow) signature
# frame once via a lazy localCheckpoint before the band self-join.
# Without it the ENTIRE upstream signature pipeline — corpus scan,
# tokenize/regex, shingle hashing, 32 min-aggregations — is planned and
# EXECUTED once per join side (the probe-side Exchange and the
# build-side BroadcastExchange cannot share, so ReuseExchange never
# fires): the r11 before-plans show the events/documents scan subtree
# duplicated under both sides of every candidate join
# (plans/r11/*_before.txt). Checkpointing the signatures (one narrow row
# per set: id + n longs) makes both sides read the materialized
# partitions — the corpus is scanned ONCE, which is the posture that
# matters at 100 TB (guide §2.4: remove shuffles/passes outright).
def scored_candidate_pairs_df(
    sig: DataFrame, id_col: str, n: int, bands: int
) -> DataFrame:
    """(id_a < id_b, est_sim) pairs sharing >= 1 LSH bucket, scored
    in the candidate join itself.

    The signature array rides along on each exploded bucket row, so
    estimated similarity is computed where the pair is first formed —
    no re-join of the signature table (which re-runs the whole
    upstream item pipeline per join under exchange reuse) and no
    `distinct` shuffle of the raw pair stream; multi-band duplicates
    die map-side in the first-matching-band filter (r12) — no
    groupBy/exchange over the candidate stream at all.
    Tradeoff at scale: band-join shuffle rows carry n extra longs
    (sig width) on both sides — linear, constant-factor — in exchange
    for dropping two signature-side shuffle joins and a distinct.
    Interleaved A/B at sf0.1: user-similarity 3.25s -> 2.22s, doc
    dedup 2.59s -> 2.43s (min of 4, same JVM).
    """
    buckets = bucket_rows_df(
        sig.localCheckpoint(eager=False), id_col, n, bands, with_bhs=True
    )
    return _scored_band_join(buckets, id_col, n)


def _scored_band_join(buckets: DataFrame, id_col: str, n: int) -> DataFrame:
    """Band self-join of (id, sg, bhs, band, bh) bucket rows into
    (id_a < id_b, est_sim) pairs, each pair once."""
    a, b = buckets.alias("a"), buckets.alias("b")
    matches = sig_match_count_col(F.col("a.sg"), F.col("b.sg"))
    est = F.round(matches.cast("double") / F.lit(n), 6)
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    # multi-band duplicates die map-side (first-matching-band filter);
    # the former groupBy(id_a, id_b) dedup exchange is gone
    return _first_matching_band_only(joined).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        est.alias("est_sim"),
    )


def candidate_pairs_sql(sig_sql: str, id_col: str, n: int, bands: int) -> str:
    rows = n // bands
    branches = "\n            UNION ALL ".join(
        f"SELECT {id_col}, {j} AS band, {_band_hash_sql(j, rows)} AS bh FROM sig"
        for j in range(bands)
    )
    return f"""
        WITH sig AS ({sig_sql}),
        buckets AS ({branches})
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM buckets a
        JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}
    """


def candidate_pairs_from_sig_cte_sql(id_col: str, n: int, bands: int) -> str:
    """LSH candidate-pair SQL that reads a CTE named ``sig`` from the
    ENCLOSING scope — lets callers hoist the signature pipeline into one
    ``WITH sig AS MATERIALIZED (...)`` shared with their own join-back
    stages instead of DuckDB re-inlining it per reference (the
    percolation-oracle lesson: ~9x re-execution without MATERIALIZED)."""
    rows = n // bands
    branches = "\n            UNION ALL ".join(
        f"SELECT {id_col}, {j} AS band, {_band_hash_sql(j, rows)} AS bh FROM sig"
        for j in range(bands)
    )
    return f"""
        WITH buckets AS ({branches})
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM buckets a
        JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}
    """


def est_similarity_expr(n: int) -> Column:
    """Matching-component fraction between sa.m{i} and sb.m{i}."""
    return F.expr(est_similarity_sql(n))


def est_similarity_sql(n: int) -> str:
    terms = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(n)
    )
    return f"ROUND(CAST(({terms}) AS DOUBLE) / {n}, 6)"


def signature_array_col(codes: str, params: list[tuple[int, int]]) -> Column:
    """Per-ROW minhash signature from the shingle-code ARRAY column
    named ``codes``: array_min of each affine hash family over the
    codes.

    Equivalent to :func:`signature_df`'s explode+groupBy form but
    narrow (no shuffle) — the right shape when the codes already sit
    in one array per document, e.g. on a stream where an aggregation
    would be stateful. A computed codes array must be projected to a
    named column first."""
    mins = ", ".join(
        f"array_min(transform({codes}, x -> {H.affine_sql('x', a, b)}))"
        for a, b in params
    )
    return F.expr(f"array({mins})")


def bucket_rows_from_sig_df(
    df: DataFrame, sig_col: str, n: int, bands: int, with_bhs: bool = False
) -> DataFrame:
    """Explode one (band, bh) row per band from an ARRAY-form
    signature column, all other columns riding along (plus the full
    band-hash array when ``with_bhs`` — see bucket_rows_df). Same
    fold as the wide form, component i read as element i+1."""
    bhs = _band_hashes_col(n, bands, lambda i: f"element_at({sig_col}, {i + 1})")
    out = df.select(
        "*",
        bhs.alias("bhs"),
        F.posexplode(bhs).alias("band", "bh"),
    )
    cols = [*df.columns, "bhs", "band", "bh"] if with_bhs else [
        *df.columns, "band", "bh"
    ]
    return out.select(*cols)


def scored_candidate_pairs_from_array_sig_df(
    sig: DataFrame, id_col: str, n: int, bands: int, sig_col: str = "sg"
) -> DataFrame:
    """Same contract as :func:`scored_candidate_pairs_df`, but over
    (id, sg) ARRAY-form signatures (from :func:`signature_array_col`).

    The right entry point when the item codes already sit in one array
    per set (document shingles): the signature becomes a narrow
    projection — array_min per hash family — instead of
    explode + groupBy, deleting the signature shuffle entirely
    (interleaved A/B at sf0.1: scored doc pipeline 2.23 -> 2.08 s,
    identical pairs; and projection-only signatures are the posture
    that matters at 100x — the one remaining wide exchange is the
    band-bucket join itself).

    The projected (id, sg) frame is materialized once (lazy
    localCheckpoint, see the note above :func:`scored_candidate_pairs_df`)
    so the CPU-bound shingle scan does not run once per join side."""
    buckets = bucket_rows_from_sig_df(
        sig.select(F.col(id_col), F.col(sig_col).alias("sg")).localCheckpoint(
            eager=False
        ),
        "sg",
        n,
        bands,
        with_bhs=True,
    )
    return _scored_band_join(buckets, id_col, n)
