"""MinHash + LSH building blocks with exact Spark/DuckDB mirrors.

Re-expression of the reference's algebird-based MinHasher pipeline
(`jobs/recommendations/RecommendationUtils.scala`,
`RecommendationsJob.scala:95-110`: signature → LSH buckets →
candidates → similarity → top-N) with an engine-portable hash family
(`functions/hashing.py`).

One pipeline over ARRAY signatures. Two signature steps feed it, one
per input shape: :func:`signature_df` for (id, code) rows and
:func:`signature_array_col` for per-row code arrays; both yield an
``sg`` ARRAY of n mins. Below them there is one tail:
:func:`bucket_rows_from_sig_df` (one row per (set, band)) and
:func:`scored_candidate_pairs_from_array_sig_df` (the scored band
self-join). The DuckDB oracles mirror it with wide m{i} columns
(the ``*_sql`` builders).

Scale shape: signatures are one partial-aggregated shuffle on the set
id (one n-long array per set) or a projection; banding is a
projection; the candidate join shuffles only (band, band_hash) keys.
Estimated similarity is the matching-component fraction of two
fixed-width signatures — a map-side zip, no extra shuffle. At 100 TB
the only heavy exchange is the item explode feeding the signature
aggregation.

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


def _affine_mins(code_col: str, params: list[tuple[int, int]]) -> list[str]:
    return [f"MIN({H.affine_sql(code_col, a, b)})" for a, b in params]


def signature_df(
    items: DataFrame, id_col: str, code_col: str, params: list[tuple[int, int]]
) -> DataFrame:
    """(id, sg) minhash signatures of (id, code) item rows: explode +
    partial-aggregated MIN per hash, packed into one ARRAY."""
    mins = ", ".join(_affine_mins(code_col, params))
    return items.groupBy(id_col).agg(F.expr(f"array({mins})").alias("sg"))


def signature_sql(
    items_sql: str, id_col: str, code_col: str, params: list[tuple[int, int]]
) -> str:
    """DuckDB mirror of :func:`signature_df`, one m{i} column per hash."""
    mins = ",\n               ".join(
        f"{m} AS m{i}" for i, m in enumerate(_affine_mins(code_col, params))
    )
    return f"SELECT {id_col}, {mins}\n        FROM ({items_sql})\n        GROUP BY {id_col}"


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


def _band_hash_sql(terms: list[str]) -> str:
    """Band hash: 31-polynomial fold mod P over the spellings of one
    band's signature components."""
    acc = "CAST(0 AS BIGINT)"
    for t in terms:
        acc = f"(({acc}) * 31 + {t}) % {H.P}"
    return acc


def _bands(n: int, bands: int) -> list[range]:
    rows = n // bands
    return [range(j * rows, (j + 1) * rows) for j in range(bands)]


def bucket_rows_from_sig_df(df: DataFrame, n: int, bands: int) -> DataFrame:
    """``df``'s rows, one per (row, band), with ``bhs`` (the ARRAY of
    all band hashes of the ``sg`` signature), ``band`` and ``bh``.

    ``bhs`` is projected first and the generator reads the column: a
    generator over the inline fold array plans the 16 folds twice,
    once in the Generate and again in the Project above it, per
    exploded row. Callers that never read ``bhs`` lose it to column
    pruning.

    The generator is ``posexplode_outer``: for a plain ``posexplode``
    Spark infers a ``size(bhs) > 0`` filter and pushes it below the
    Project that defines ``bhs``, which evaluates the fold a second
    time per set. ``bhs`` is never empty, so the rows are the same."""
    folds = ", ".join(
        _band_hash_sql([f"element_at(sg, {i + 1})" for i in band])
        for band in _bands(n, bands)
    )
    with_bhs = df.select("*", F.expr(f"array({folds})").alias("bhs"))
    return with_bhs.select("*", F.posexplode_outer("bhs").alias("band", "bh"))


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


def scored_candidate_pairs_from_array_sig_df(
    sig: DataFrame, id_col: str, n: int, bands: int
) -> DataFrame:
    """(id_a < id_b, est_sim) pairs of (id, sg) signatures sharing
    >= 1 LSH bucket, scored in the candidate join itself.

    The signature array rides along on each exploded bucket row, so
    estimated similarity is computed where the pair is first formed —
    no re-join of the signature table and no `distinct` shuffle of the
    raw pair stream; multi-band duplicates die map-side in the
    first-matching-band filter — no groupBy/exchange over the
    candidate stream at all. Tradeoff at scale: band-join shuffle rows
    carry n extra longs (sig width) on both sides — linear,
    constant-factor — in exchange for dropping two signature-side
    shuffle joins and a distinct.

    The (id, sg) frame is materialized once via a lazy
    localCheckpoint before the band self-join. Without it the ENTIRE
    upstream signature pipeline — corpus scan, tokenize/regex,
    shingle hashing, 32 min-aggregations — is planned and EXECUTED
    once per join side (the probe-side Exchange and the build-side
    BroadcastExchange cannot share, so ReuseExchange never fires):
    the r11 before-plans show the events/documents scan subtree
    duplicated under both sides of every candidate join
    (plans/r11/*_before.txt). Checkpointing the signatures (one narrow
    row per set: id + n longs) makes both sides read the materialized
    partitions — the corpus is scanned ONCE, which is the posture that
    matters at 100 TB (guide §2.4: remove shuffles/passes outright).
    """
    buckets = bucket_rows_from_sig_df(
        sig.select(id_col, "sg").localCheckpoint(eager=False), n, bands
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    matches = sig_match_count_col(F.col("a.sg"), F.col("b.sg"))
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    return _first_matching_band_only(joined).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(matches.cast("double") / F.lit(n), 6).alias("est_sim"),
    )


# --- DuckDB oracle mirrors (wide m{i} signature columns) --------------------


def bucket_rows_sql(id_col: str, n: int, bands: int) -> str:
    """(id, band, bh) rows of a ``sig`` relation in scope, one
    UNION ALL branch per band: the oracle twin of
    :func:`bucket_rows_from_sig_df`."""
    return "\n            UNION ALL ".join(
        f"SELECT {id_col}, {j} AS band, "
        f"{_band_hash_sql([f'm{i}' for i in band])} AS bh FROM sig"
        for j, band in enumerate(_bands(n, bands))
    )


def _candidate_pairs_tail_sql(id_col: str, n: int, bands: int) -> str:
    return f"""buckets AS ({bucket_rows_sql(id_col, n, bands)})
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM buckets a
        JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}
    """


def candidate_pairs_sql(sig_sql: str, id_col: str, n: int, bands: int) -> str:
    """Distinct (id_a < id_b) pairs sharing at least one LSH bucket."""
    return f"""
        WITH sig AS ({sig_sql}),
        {_candidate_pairs_tail_sql(id_col, n, bands)}"""


def candidate_pairs_from_sig_cte_sql(id_col: str, n: int, bands: int) -> str:
    """LSH candidate-pair SQL that reads a CTE named ``sig`` from the
    ENCLOSING scope — lets callers hoist the signature pipeline into one
    ``WITH sig AS MATERIALIZED (...)`` shared with their own join-back
    stages instead of DuckDB re-inlining it per reference (the
    percolation-oracle lesson: ~9x re-execution without MATERIALIZED)."""
    return f"""
        WITH {_candidate_pairs_tail_sql(id_col, n, bands)}"""


def sig_match_count_sql(n: int) -> str:
    """Matching components between sa.m{i} and sb.m{i} (int)."""
    return " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(n))


def est_similarity_sql(n: int) -> str:
    """Matching-component fraction between sa.m{i} and sb.m{i}."""
    return f"ROUND(CAST(({sig_match_count_sql(n)}) AS DOUBLE) / {n}, 6)"
