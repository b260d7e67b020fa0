"""User-user similarity / recommendations (SURVEY §2c #16-20).

Re-expression of DSPA task 2 (`jobs/recommendations/
RecommendationsJob.scala`): collect each user's interaction item set,
estimate pairwise Jaccard similarity, exclude already-known and
inactive counterparts, emit the top-N most similar users above a
minimum similarity (reference defaults: top 5, min sim 0.1 —
`application.conf jobs.recommendation`).

Items here are (event_type, props.k) pairs from the `events` table —
the stand-in for the reference's tag/forum feature sets. Two variants:

- `similar_users_jaccard`: exact set similarity via explode +
  equi-join on item. The join shuffles on item; at 100 TB hot items
  need the LSH variant, which is the point of having both.
- `similar_users_minhash_lsh`: fixed-width signatures + band-bucket
  candidate join (`functions/minhash.py`) — linear shuffle volume,
  no quadratic pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.config import settings
from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.functions import minhash as MH
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import (
    EVENT_TYPES,
    PROPS_K_PATTERN,
    item_code_col,
    table,
)

# All five from the typed settings object (Settings.scala analog);
# the oracle SQL below bakes the same values, so overrides keep the
# two engines in lockstep.
TOP_N = settings.recommendation.max_recommendation_count
MIN_SIM = settings.recommendation.min_recommendation_similarity
ACTIVE_DAYS = settings.recommendation.active_users_timeout_days
N_HASHES = settings.recommendation.minhash_num_hashes
BANDS = settings.recommendation.lsh_bands
SEED = 1913

_ETYPE_IDX_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{t}' THEN {i}" for i, t in enumerate(EVENT_TYPES))
    + " END"
)

_K_PATTERN = PROPS_K_PATTERN  # shared events.props k extraction


def _items_df(
    spark: SparkSession, sf_dir: str, dedup: bool = True
) -> DataFrame:
    """(user_id, item_code) rows: item = event_type x props.k.

    `dedup=True` returns the distinct set (one (user,item) shuffle,
    plus the consumer's own re-shuffle since (user,item) partitioning
    does not satisfy a user_id groupBy). Duplicate-insensitive
    consumers — the MinHash signature is a MIN aggregate, identical
    with or without duplicates — pass `dedup=False`: the raw rows
    stay hash-partitioned on user_id from the fan-out repartition, so
    the signature groupBy reuses that single exchange (3 exchanges ->
    1; interleaved A/B at sf0.1 is within noise because the partial
    min-agg collapses data map-side either way, but at 100x the two
    dropped full-stream shuffles are the posture that matters).
    """
    # json extraction is CPU-bound; a small parquet file is one split,
    # so fan out before parsing (same rationale as dedup._doc_shingles).
    ev = table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "user_id"
    )
    # Null items (unparseable props.$.k or unknown event_type) are
    # excluded on BOTH engines: nulls never match an equi-join anyway,
    # and pinning the exclusion here keeps set sizes (and therefore
    # Jaccard denominators) identical between Spark's collect_set
    # (which drops nulls) and the DuckDB oracle's COUNT(*).
    out = ev.select("user_id", item_code_col().alias("item")).where(
        F.col("item").isNotNull()
    )
    return out.distinct() if dedup else out


_ITEMS_SQL = f"""
    SELECT DISTINCT user_id, item FROM (
        SELECT user_id,
               ({_ETYPE_IDX_SQL})::BIGINT * 1000
                 + TRY_CAST(NULLIF(regexp_extract(props,
                       '{_K_PATTERN}', 1), '') AS BIGINT) AS item
        FROM events
    ) WHERE item IS NOT NULL
"""


# Bound on distinct users per (hour, props.k) bucket entering the
# known-pairs pair expansion.  Candidate volume is sum of per-bucket
# n^2, so one hot bucket is quadratic at scale; capping to the CAP
# smallest user_ids per bucket bounds any bucket's contribution to
# CAP^2 pairs.  Orders of magnitude above observed bucket sizes at
# test SFs (max 9 at sf0.1), so the oracle comparison is unaffected;
# at 100 TB a hotter bucket just contributes fewer "known" exclusions.
KNOWN_BUCKET_CAP = 1000
_KNOWN_SALTS = 64


def _known_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Already known' analog: co-present on same props.k in same hour
    (stands in for the reference's knownUsers graph exclusion).

    Cap + pair expansion in aggregation form (measured 1.3s vs 2.1s
    for distinct -> row_number window -> self-join at sf0.1): dedup
    and cap via a salted two-level sorted collect_set — level 1 on
    (hr, k, user_id % SALTS) bounds any single aggregation buffer to
    ~D/SALTS (level 2's input is then <= SALTS*CAP rows per bucket,
    unlike a naive one-level collect_set whose merge buffer is the
    bucket's FULL distinct count) — then pairs come straight from the
    capped array via a double explode, no self-join.  Selection is
    exactly the CAP smallest user_ids per bucket: a globally-selected
    user has <= CAP-1 smaller users in total, so it always survives
    its salt's level-1 cap."""
    ev = (
        table(spark, sf_dir, "events")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
        .select(
            "user_id",
            F.date_trunc("hour", "ts").alias("hr"),
            F.nullif(
                F.regexp_extract("props", _K_PATTERN, 1), F.lit("")
            ).alias("k"),
        )
        # Spark's groupBy would make NULL k a (hot) bucket of its own;
        # the oracle's a.k = b.k join can never match NULLs. Pin the
        # oracle semantics explicitly.
        .where(F.col("k").isNotNull())
    )
    lvl1 = ev.groupBy(
        "hr", "k", (F.col("user_id") % _KNOWN_SALTS).alias("_s")
    ).agg(
        F.slice(F.array_sort(F.collect_set("user_id")), 1, KNOWN_BUCKET_CAP).alias("us")
    )
    capped = (
        lvl1.select("hr", "k", F.explode("us").alias("user_id"))
        .groupBy("hr", "k")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("user_id")), 1, KNOWN_BUCKET_CAP
            ).alias("us")
        )
    )
    # NO trailing distinct: the only consumer is an anti-join build
    # side, where duplicate (u, v) rows are semantically inert. The
    # cross-bucket multiplicity is tiny (sf0.1: 138.6k vs 134.3k rows,
    # +3%) and skipping the dedup shuffle saves ~0.6 s of the 1.5 s
    # known-pairs cost. Call .distinct() at the use site if exact pair
    # sets are ever needed.
    return (
        capped.select(F.explode("us").alias("u"), "us")
        .select("u", F.explode("us").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


_KNOWN_SQL = f"""
    SELECT DISTINCT a.user_id AS u, b.user_id AS v
    FROM (SELECT user_id, date_trunc('hour', ts) AS hr,
                 NULLIF(regexp_extract(props, '{_K_PATTERN}', 1), '')
                   AS k FROM events) a
    JOIN (SELECT user_id, date_trunc('hour', ts) AS hr,
                 NULLIF(regexp_extract(props, '{_K_PATTERN}', 1), '')
                   AS k FROM events) b
      ON a.hr = b.hr AND a.k = b.k AND a.user_id <> b.user_id
"""


_ACTIVE_SQL = f"""
    SELECT user_id
    FROM (SELECT user_id, MAX(epoch_us(ts)) AS last_us FROM events GROUP BY user_id)
    WHERE last_us >= (SELECT MAX(epoch_us(ts)) - {ACTIVE_DAYS}::BIGINT * 86400000000
                      FROM events)
"""


@register(
    "similar_users_jaccard",
    oracle=f"""
        WITH items AS ({_ITEMS_SQL}),
        sizes AS (SELECT user_id, COUNT(*) AS n FROM items GROUP BY user_id),
        inter AS (
            SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS k
            FROM items a JOIN items b ON a.item = b.item AND a.user_id <> b.user_id
            GROUP BY 1, 2
        ),
        sims AS (
            SELECT u, v, ROUND(1.0 * k / (sa.n + sb.n - k), 6) AS similarity
            FROM inter
            JOIN sizes sa ON sa.user_id = u
            JOIN sizes sb ON sb.user_id = v
        ),
        known AS ({_KNOWN_SQL}),
        active AS ({_ACTIVE_SQL}),
        filtered AS (
            SELECT s.u, s.v, s.similarity
            FROM sims s
            JOIN active act ON act.user_id = s.v
            ANTI JOIN known kn ON kn.u = s.u AND kn.v = s.v
            WHERE s.similarity >= {MIN_SIM}
        )
        SELECT u AS user_id, v AS rec_user_id, similarity
        FROM (
            SELECT u, v, similarity,
                   ROW_NUMBER() OVER (PARTITION BY u ORDER BY similarity DESC, v) AS rn
            FROM filtered
        )
        WHERE rn <= {TOP_N}
        ORDER BY user_id, similarity DESC, rec_user_id
    """,
    doc="Exact-Jaccard top-5 user recommendations with known-pair anti "
    "join and active-user filter (ref RecommendationsJob.scala:95-118).",
    tags=("similarity", "bench"),
)
def similar_users_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One events scan + one shuffle on user_id yields the item sets,
    # set sizes, AND the activity cutoff (vs three separate scans when
    # items/sizes/active are built independently — measured 2.46s ->
    # 2.16s at sf0.1, and one scan instead of three is the posture that
    # matters at 100 TB). Item sets per user are bounded by the item
    # vocabulary, same bound the explode-join itself relies on.
    ev = table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "user_id"
    )
    per_user = (
        ev.select("user_id", item_code_col().alias("item"), "ts")
        .groupBy("user_id")
        .agg(
            F.collect_set("item").alias("items"),
            F.unix_micros(F.max("ts")).alias("last_us"),
        )
        # materialize ONCE (lazy localCheckpoint): per_user feeds three
        # consumers — both sides of the intersection self-join and the
        # activity-cutoff aggregate — and without it each consumer
        # re-runs the events scan + regex + collect_set (the r11
        # before-plan shows the events scan 3x under this query's
        # items/cutoff subtrees). One narrow row per user; the corpus
        # is scanned once. (guide §2.4 / §5 caching-for-reuse)
        .localCheckpoint(eager=False)
    )
    # Set size and last-activity timestamp RIDE the exploded item rows
    # out of the same aggregate: the intersection groupBy then carries
    # them through as functionally-dependent mins, so neither the
    # Jaccard denominator nor the active-user filter needs any per-user
    # join. (Round 2 broadcast O(users) sizes/active tables here — a
    # forced-hint OOM at 100x; now the only broadcast is the 1-row
    # activity cutoff.)
    items = per_user.select(
        "user_id",
        F.size("items").alias("n"),
        "last_us",
        F.explode("items").alias("item"),
    )
    a, b = items.alias("a"), items.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.item") == F.col("b.item"))
            & (F.col("a.user_id") != F.col("b.user_id")),
        )
        .groupBy(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
            F.min(F.col("b.last_us")).alias("v_last_us"),
        )
    )
    sims = (
        inter.select(
            "u",
            "v",
            F.round(
                F.col("k").cast("double")
                / (F.col("na") + F.col("nb") - F.col("k")),
                6,
            ).alias("similarity"),
            "v_last_us",
        )
        .where(F.col("similarity") >= MIN_SIM)
    )
    # known-pairs anti join is left UNHINTED: the pair count is capped
    # per bucket (KNOWN_BUCKET_CAP^2) but the bucket COUNT grows with
    # the covered time range, so a forced broadcast is not scale-safe.
    # AQE converts it to broadcast when it is genuinely small.
    known = _known_pairs_df(spark, sf_dir).alias("kn")
    cutoff = per_user.agg(
        (F.max("last_us") - ACTIVE_DAYS * 86_400_000_000).alias("c")
    )
    filtered = (
        sims.crossJoin(F.broadcast(cutoff))  # 1-row scalar: scale-safe
        .where(F.col("v_last_us") >= F.col("c"))
        .alias("s")
        .join(
            known,
            (F.col("s.u") == F.col("kn.u")) & (F.col("s.v") == F.col("kn.v")),
            "left_anti",
        )
        .select("u", "v", "similarity")
    )
    w = Window.partitionBy("u").orderBy(F.col("similarity").desc(), F.col("v"))
    return (
        filtered.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_N)
        .select(
            F.col("u").alias("user_id"),
            F.col("v").alias("rec_user_id"),
            "similarity",
        )
        .orderBy("user_id", F.col("similarity").desc(), "rec_user_id")
    )


_PARAMS = H.hash_params(N_HASHES, seed=SEED)
_SIG_SQL = MH.signature_sql(_ITEMS_SQL, "user_id", "item", _PARAMS)


@register(
    "similar_users_minhash_lsh",
    oracle=f"""
        WITH cand AS ({MH.candidate_pairs_sql(_SIG_SQL, "user_id", N_HASHES, BANDS)}),
        sig AS ({_SIG_SQL}),
        scored AS (
            SELECT c.id_a, c.id_b, {MH.est_similarity_sql(N_HASHES)} AS est_sim
            FROM cand c
            JOIN sig sa ON sa.user_id = c.id_a
            JOIN sig sb ON sb.user_id = c.id_b
        ),
        both_dirs AS (
            SELECT id_a AS u, id_b AS v, est_sim FROM scored
            UNION ALL
            SELECT id_b AS u, id_a AS v, est_sim FROM scored
        )
        SELECT u AS user_id, v AS rec_user_id, est_sim
        FROM (
            SELECT u, v, est_sim,
                   ROW_NUMBER() OVER (PARTITION BY u ORDER BY est_sim DESC, v) AS rn
            FROM both_dirs
            WHERE est_sim >= {MIN_SIM}
        )
        WHERE rn <= {TOP_N}
        ORDER BY user_id, est_sim DESC, rec_user_id
    """,
    doc="MinHash(32)+LSH(16 bands x 2 rows) top-5 user recommendations "
    "(ref RecommendationUtils.scala:24-90, MMDS ch.3 construction).",
    tags=("similarity", "bench"),
)
def similar_users_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup=False: MIN signatures are duplicate-insensitive, and the
    # raw rows reuse the user_id fan-out partitioning (no distinct
    # shuffle). The DISTINCT in the oracle's _ITEMS_SQL is equally
    # inert under MIN, so parity is unaffected.
    items = _items_df(spark, sf_dir, dedup=False)
    sig = MH.signature_df(items, "user_id", "item", _PARAMS)
    # signatures scored inside the band join (no sig re-join / distinct)
    scored = MH.scored_candidate_pairs_from_array_sig_df(
        sig, "user_id", N_HASHES, BANDS
    )
    # Both directions via ONE explode instead of unionAll of two
    # copies of `scored`: the union form plans (and executes) the
    # whole candidate-join subtree once per branch — with the band
    # self-join's own two sides that was FOUR executions of the
    # events scan + signature aggregation (r11 before-plan). The
    # explode keeps one subtree and just doubles its output rows.
    both = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("u"),
                    F.col("id_b").alias("v"),
                    F.col("est_sim"),
                ),
                F.struct(
                    F.col("id_b").alias("u"),
                    F.col("id_a").alias("v"),
                    F.col("est_sim"),
                ),
            )
        ).alias("p")
    ).select("p.u", "p.v", "p.est_sim")
    w = Window.partitionBy("u").orderBy(F.col("est_sim").desc(), F.col("v"))
    return (
        both.where(F.col("est_sim") >= MIN_SIM)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_N)
        .select(
            F.col("u").alias("user_id"), F.col("v").alias("rec_user_id"), "est_sim"
        )
        .orderBy("user_id", F.col("est_sim").desc(), "rec_user_id")
    )


@register(
    "user_item_sets",
    oracle=f"""
        WITH items AS ({_ITEMS_SQL})
        SELECT user_id,
               COUNT(*) AS n_items,
               array_to_string(list_sort(list(item)), ',') AS items
        FROM items
        GROUP BY user_id
        ORDER BY user_id
    """,
    doc="Per-user collected item set (ref functions/CollectSetFunction."
    "scala; feeds the recommendation signatures). Emitted as a sorted "
    "joined string so the set is order-insensitively hash-comparable.",
    tags=("similarity",),
)
def user_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _items_df(spark, sf_dir)
    return (
        items.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.array_join(F.array_sort(F.collect_set("item")), ",").alias("items"),
        )
        .orderBy("user_id")
    )


# --- item co-occurrence graph triangles ------------------------------------

TRI_SUPPORT_FRAC = 0.05  # edge kept if co-occurring in >= 5% of users


def cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-thresholded co-occurrence edge list ``(i < j, support)``
    — ONE definition shared by the whole graph family (#20c triangles,
    #20d PageRank, #101 LPA, #103 degree stats, and the round-8
    structure metrics). Edges are vocabulary-bounded after one
    corpus-sized pair aggregation; the 5%-of-users support threshold
    keeps edge density stable as data grows.

    Pair generation (r11 second half, guide §2.3/§2.4): per-user item
    SETS first, pairs map-side. The former items-self-join on user_id
    shuffled the corpus-sized item rows twice more (once per join
    side — the lazy checkpoint shares the SCAN, not the exchange) and
    paid two sort-merge sorts before the pair fan-out. collect_set is
    duplicate-insensitive, so the raw dedup=False rows ride the
    CPU-fan-out repartition(user_id) straight into the set aggregate
    — ONE corpus exchange total — and the i<j pairs then come from a
    sorted-array expansion inside the same stage (sum_u d_u^2 rows,
    identical to the join's output), partially aggregated map-side
    into the vocabulary-bounded (i, j) grid. n_users = one row per
    user = the count of the same materialized per-user frame. Edges
    stay checkpointed: every consumer's rounds/joins reference the
    bounded edge list, not corpus lineage."""
    items = _items_df(spark, sf_dir, dedup=False)
    per_user = (
        # a NULL user_id would form its own collect_set group (and be
        # counted in n_users), while the oracle's self-join on
        # a.user_id = b.user_id and COUNT(DISTINCT user_id) both
        # exclude NULL users — filter pins join/countDistinct
        # semantics regardless of data nullability (ADVICE r11)
        items.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("item")).alias("arr"))
        .localCheckpoint(eager=False)
    )
    n_users = per_user.agg(F.count(F.lit(1)).alias("n_users"))
    # all i<j pairs of the sorted set: element at 0-based position p
    # pairs with every later element (1-based slice start p+2); slice
    # length size(arr) just clamps to the tail.
    # Memory bound: the whole d^2/2 struct array materializes in ONE
    # row's buffer before the explode (the old self-join streamed pair
    # rows instead). d here is a user's DISTINCT item count, bounded by
    # the event_type x props.k item vocabulary (~|EVENT_TYPES| x 1000),
    # NOT by the user's event volume — a 20%-hot user still contributes
    # at most C(|vocab|, 2) structs once (pinned by the graph entries in
    # test_10x_events_user_skew_bounded). If the item domain ever grows
    # with the corpus, chunk the expansion (posexplode the outer index
    # first — measured 1.19x slower at today's bound, r11 §16).
    pair_arr = F.flatten(
        F.transform(
            F.col("arr"),
            lambda x, p: F.transform(
                F.slice(F.col("arr"), p + F.lit(2), F.size(F.col("arr"))),
                lambda y: F.struct(x.alias("i"), y.alias("j")),
            ),
        )
    )
    return (
        per_user.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(n_users))
        .where(F.col("support") >= TRI_SUPPORT_FRAC * F.col("n_users"))
        .select("i", "j", "support")
        .localCheckpoint(eager=False)
    )


@register(
    "item_cooccurrence_triangles",
    oracle=f"""
        WITH items AS ({_ITEMS_SQL}),
        u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM items),
        edges AS (
            SELECT a.item AS i, b.item AS j, COUNT(*) AS support
            FROM items a
            JOIN items b ON a.user_id = b.user_id AND a.item < b.item
            GROUP BY 1, 2
            HAVING COUNT(*) >= (SELECT {TRI_SUPPORT_FRAC} * n_users FROM u)
        )
        SELECT e1.i AS item_a, e1.j AS item_b, e2.j AS item_c,
               CAST(LEAST(e1.support, e2.support, e3.support) AS BIGINT)
                   AS min_support
        FROM edges e1
        JOIN edges e2 ON e2.i = e1.j
        JOIN edges e3 ON e3.i = e1.i AND e3.j = e2.j
        ORDER BY item_a, item_b, item_c
    """,
    doc="Triangle enumeration on the item co-occurrence graph (edges = "
    "item pairs co-occurring in >= 5% of users; i<j<k ordered-edge "
    "join, the canonical distributed triangle algorithm). The graph "
    "is VOCABULARY-sized after one aggregation of per-user item "
    "pairs, so the triangle join never touches corpus-scale data; "
    "the support threshold scales with the user count, keeping edge "
    "density stable as data grows.",
    tags=("similarity", "graph"),
)
def item_cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the triangle join references edges three times; the helper
    # materializes the vocabulary-bounded edge list once (r11)
    edges = cooccurrence_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e2.i") == F.col("e1.j"))
        .join(
            e3,
            (F.col("e3.i") == F.col("e1.i")) & (F.col("e3.j") == F.col("e2.j")),
        )
        .select(
            F.col("e1.i").alias("item_a"),
            F.col("e1.j").alias("item_b"),
            F.col("e2.j").alias("item_c"),
            F.least(
                F.col("e1.support"), F.col("e2.support"), F.col("e3.support")
            ).alias("min_support"),
        )
        .orderBy("item_a", "item_b", "item_c")
    )


# --- PageRank over the item co-occurrence graph ----------------------------

PR_DAMPING = 0.85
PR_ITERS = 10


def _pr_iter_sql(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
        r{i} AS (
            SELECT nm.dst AS node,
                   (1 - {PR_DAMPING}) / (SELECT n FROM nn)
                     + {PR_DAMPING} * SUM(p.r * nm.w) AS r
            FROM {prev} p JOIN norm nm ON nm.src = p.node
            GROUP BY nm.dst
        )"""


@register(
    "item_pagerank",
    oracle=f"""
        WITH items AS ({_ITEMS_SQL}),
        u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM items),
        e0 AS (
            SELECT a.item AS i, b.item AS j, COUNT(*) AS support
            FROM items a
            JOIN items b ON a.user_id = b.user_id AND a.item < b.item
            GROUP BY 1, 2
            HAVING COUNT(*) >= (SELECT {TRI_SUPPORT_FRAC} * n_users FROM u)
        ),
        edges AS (
            SELECT i AS src, j AS dst, support FROM e0
            UNION ALL
            SELECT j AS src, i AS dst, support FROM e0
        ),
        norm AS (
            SELECT src, dst,
                   support::DOUBLE
                     / SUM(support) OVER (PARTITION BY src) AS w
            FROM edges
        ),
        nn AS (SELECT COUNT(DISTINCT src) AS n FROM edges),
        r0 AS (
            SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r
            FROM (SELECT DISTINCT src FROM edges)
        ),
        {','.join(_pr_iter_sql(i) for i in range(1, PR_ITERS + 1))}
        SELECT node AS item, ROUND(r, 6) AS pagerank
        FROM r{PR_ITERS}
        ORDER BY pagerank DESC, item
    """,
    doc=f"PageRank (damping {PR_DAMPING}, {PR_ITERS} fixed iterations) "
    "over the item co-occurrence graph (same support-thresholded, "
    "vocabulary-sized edge list as the triangle query). The ONE "
    "corpus-sized operation is the per-user pair aggregation; every "
    "power-iteration join then touches only the bounded edge list, "
    "with per-round localCheckpoint to cut lineage — same iterative "
    "idiom as dedup_clusters' label propagation. The undirected graph "
    "has no dangling nodes, so rank mass is conserved without a "
    "dangling-redistribution term and the unrolled-CTE DuckDB oracle "
    "is exact (full hash gate on an iterative algorithm).",
    tags=("similarity", "graph"),
)
def item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = cooccurrence_edges(spark, sf_dir)
    edges = e0.selectExpr("i AS src", "j AS dst", "support").unionAll(
        e0.selectExpr("j AS src", "i AS dst", "support")
    )
    norm = edges.select(
        "src",
        "dst",
        (
            F.col("support").cast("double")
            / F.sum("support").over(Window.partitionBy("src"))
        ).alias("w"),
    ).localCheckpoint(eager=False)  # vocabulary-bounded; reused x10

    # bounded scalar pull (same class as the k-means model pulls)
    n = norm.select("src").distinct().count()
    if n == 0:
        return spark.createDataFrame([], "item bigint, pagerank double")

    ranks = norm.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0 / n).alias("r")
    )
    for _ in range(PR_ITERS):
        # ranks is one row per node (bounded); broadcasting it leaves
        # the normalized edge list unshuffled in every power iteration
        # — the only Exchange per round is the bounded groupBy(dst)
        # (r11, guide §3.1)
        ranks = (
            norm.join(F.broadcast(ranks), norm["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                (
                    F.lit((1 - PR_DAMPING) / n)
                    + F.lit(PR_DAMPING) * F.sum(F.col("r") * F.col("w"))
                ).alias("r")
            )
            .withColumnRenamed("node2", "node")
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        F.col("node").alias("item"), F.round("r", 6).alias("pagerank")
    ).orderBy(F.desc("pagerank"), "item")


# --- deterministic negative sampling ---------------------------------------

NEG_K = 5  # negatives per user
NEG_OVERSAMPLE = 4  # slots drawn per user = NEG_K * NEG_OVERSAMPLE
_NEG_A, _NEG_B = H.hash_params(1, seed=77)[0]


@register(
    "negative_samples",
    oracle=f"""
        WITH items AS ({_ITEMS_SQL}),
        vocab AS (
            SELECT item,
                   ROW_NUMBER() OVER (ORDER BY item) - 1 AS idx
            FROM (SELECT DISTINCT item FROM items)
        ),
        nv AS (SELECT NULLIF(COUNT(*), 0) AS n FROM vocab),
        slots AS (
            SELECT u.user_id, s.slot,
                   {H.affine_sql(
                       f"u.user_id * {NEG_K * NEG_OVERSAMPLE} + s.slot",
                       _NEG_A, _NEG_B)}
                     % (SELECT n FROM nv) AS idx
            FROM (SELECT DISTINCT user_id FROM items) u
            CROSS JOIN (
                SELECT unnest(generate_series(0,
                    {NEG_K * NEG_OVERSAMPLE - 1})) AS slot
            ) s
        ),
        cand AS (
            SELECT sl.user_id, sl.slot, v.item
            FROM slots sl JOIN vocab v ON sl.idx = v.idx
            WHERE NOT EXISTS (
                SELECT 1 FROM items i
                WHERE i.user_id = sl.user_id AND i.item = v.item
            )
        ),
        dedup AS (
            SELECT user_id, item, MIN(slot) AS slot
            FROM cand GROUP BY user_id, item
        ),
        ranked AS (
            SELECT user_id, item, slot,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY slot
                   ) AS rk
            FROM dedup
        )
        SELECT user_id, item AS neg_item, CAST(rk AS BIGINT) AS rank
        FROM ranked
        WHERE rk <= {NEG_K}
        ORDER BY user_id, rank
    """,
    doc=f"Deterministic negative sampling for recommender/contrastive "
    f"training: {NEG_K} non-interacted items per user, drawn by "
    "hashing (user, slot) to a dense vocabulary index — the scalable "
    "form of 'sample k random negatives': per-user work is a FIXED "
    f"{NEG_K * NEG_OVERSAMPLE}-slot fan-out equi-joined to the "
    "vocabulary (never a user x vocab cross product; plan-gated), "
    "known positives removed by anti join, oversampling absorbs "
    "collisions/positives. RNG-free: the affine hash makes the draw "
    "reproducible across engines, retries, and partitionings.",
    tags=("similarity", "llm", "sampling"),
)
def negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the interaction table feeds three subtrees (item vocabulary,
    # user list, the known-pair anti join) — materialized once, the
    # CPU-bound events scan + extraction runs once instead of 4x (r11)
    items = _items_df(spark, sf_dir).localCheckpoint(eager=False)
    n_slots = NEG_K * NEG_OVERSAMPLE
    vocab = (
        items.select("item")
        .distinct()
        .select(
            "item",
            (F.row_number().over(Window.orderBy("item")) - 1).alias("idx"),
        )
        .localCheckpoint(eager=False)
    )
    nv = vocab.agg(F.nullif(F.count(F.lit(1)), F.lit(0)).alias("n"))
    users = items.select("user_id").distinct()
    slots = (
        users.crossJoin(F.broadcast(nv))
        .select(
            "user_id",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(n_slots - 1))).alias(
                "slot"
            ),
        )
        .select(
            "user_id",
            "slot",
            (
                H.affine_col(
                    F.col("user_id") * n_slots + F.col("slot"),
                    _NEG_A,
                    _NEG_B,
                )
                % F.col("n")
            ).alias("idx"),
        )
    )
    cand = (
        slots.join(vocab, "idx")
        .join(items, ["user_id", "item"], "left_anti")
        .groupBy("user_id", "item")
        .agg(F.min("slot").alias("slot"))
    )
    rk = F.row_number().over(
        Window.partitionBy("user_id").orderBy("slot")
    )
    return (
        cand.select("user_id", "item", rk.alias("rank"))
        .where(F.col("rank") <= NEG_K)
        .select(
            "user_id",
            F.col("item").alias("neg_item"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("user_id", "rank")
    )


_EDGES_CTE_SQL = f"""
        items AS ({_ITEMS_SQL}),
        u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM items),
        edges AS (
            SELECT a.item AS i, b.item AS j, COUNT(*) AS support
            FROM items a
            JOIN items b ON a.user_id = b.user_id AND a.item < b.item
            GROUP BY 1, 2
            HAVING COUNT(*) >= (SELECT {TRI_SUPPORT_FRAC} * n_users FROM u)
        )"""


# --- label-propagation community detection ---------------------------------

LPA_ROUNDS = 8


def lpa_communities(edges: DataFrame) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected weighted edge list (src, dst, support): every node
    starts as its own community, then each round adopts the label
    with the max total incident support among its neighbors
    (deterministic tiebreak: smallest label). Bounded rounds instead
    of convergence detection — LPA can oscillate, and at 100 TB a
    fixed small round count over the vocabulary-bounded edge list is
    the operable contract (each round = one join + one aggregation,
    localCheckpoint cuts the lineage like PageRank/CC)."""
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
        .localCheckpoint(eager=False)
    )
    # Fixpoint early-stop (the kcore idiom, r11 second half): the node
    # set is fixed across rounds, so if a round leaves every (node,
    # community) pair unchanged, every remaining budgeted round is the
    # identity and the full fixed-round definition (which the oracle
    # always runs) returns the bit-identical result. Each round already
    # needs one blocking materialization; the per-round cost added here
    # is one node-bounded semi-join count. n_nodes == 0 (the support
    # threshold can empty the graph outright) skips the rounds
    # entirely.
    n_nodes = labels.count()
    if n_nodes == 0:
        return labels
    # Per-src argmax over the total order (w DESC, community ASC) as a
    # single decimal-packed MAX: enc = w * 10^20 + (5*10^19 - community).
    # 5e19 - community lies in [0, 10^20) for every BIGINT community, so
    # integer w strictly dominates and equal-w ties resolve to the
    # SMALLEST community — identical to the previous ROW_NUMBER()=1
    # window (community is unique within each (src, community) group, so
    # the order is total). Exact while w < 10^18 (w = summed co-occurrence
    # support of one node's neighborhood; overflow would need ~10^9 users
    # x 10^9 neighbors). Chosen over max_by(community, struct(...)),
    # which Spark plans as a SortAggregate that re-sorts every partition
    # each round; plain MAX partial-combines in a pure HashAggregate
    # (r11, guide §2.4 — same trap as the intrinsic-dim commit).
    _P, _H = "100000000000000000000", "50000000000000000000"
    for _ in range(LPA_ROUNDS):
        # labels is node-bounded: broadcast it so the (vocabulary-sized
        # but larger) edge list is never shuffled for the join
        # (r11, guide §3.1).
        neigh = (
            edges.join(F.broadcast(labels), edges["dst"] == labels["node"])
            .groupBy(F.col("src"), F.col("community"))
            .agg(F.sum("support").alias("w"))
        )
        new_labels = (
            neigh.select(
                "src",
                F.expr(
                    f"CAST(w AS DECIMAL(38,0)) * {_P} + ({_H} - community)"
                ).alias("enc"),
            )
            .groupBy("src")
            .agg(F.max("enc").alias("enc"))
            .select(
                F.col("src").alias("node"),
                F.expr(f"CAST({_H} - (enc % {_P}) AS BIGINT)").alias(
                    "community"
                ),
            )
            .localCheckpoint(eager=False)
        )
        unchanged = new_labels.join(labels, ["node", "community"]).count()
        labels = new_labels
        if unchanged == n_nodes:
            break  # fixpoint: every remaining round is the identity
    return labels


def modularity_df(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a partition over the undirected edge
    list (each undirected edge appears in BOTH directions), as a
    1-row DataFrame (q double) computed EXACTLY: every term of
    Q = sum_c [ in_c / 2m - (deg_c / 2m)^2 ] is a rational with
    denominator (2m)^2, so Q = (2m * w_in_total - sum_c deg_c^2)
    / (2m)^2 with an INTEGER numerator — carried in DECIMAL(38,0)
    (HUGEINT on the oracle side), one float division at the end.
    No float summation order anywhere, no collect (r9: this made the
    LPA query oracle-gateable and removed its driver-side solve).

    Cross-engine exactness assumption (ADVICE r9, documented): the
    final division casts both integer sides to DOUBLE. Below 2^53 the
    casts are exact on both engines; above it they rely on Spark's
    BigDecimal->double (correctly rounded) and DuckDB's HUGEINT->
    double agreeing, which is not formally guaranteed — a 1-ulp
    disagreement could flip the consumer's ROUND(q, 6) exactly at a
    6-dp boundary. 2^53 covers numerators to ~9e15, i.e. graphs to
    ~2m = 9.5e7 weighted half-edges with every node in one community
    (numerator <= (2m)^2); the co-occurrence graphs here are support-
    thresholded far below that. If the graph ever outgrows it, switch
    the division to the two-stage small-quotient integer grid used by
    plans/analytics2._mk_x_exprs (exact at any magnitude)."""
    deg = edges.groupBy("src").agg(
        F.sum("support").cast("long").alias("deg")
    )
    m2 = edges.agg(
        F.coalesce(F.sum("support"), F.lit(0)).cast("long").alias("m2")
    )
    w_in = (
        edges.join(
            F.broadcast(labels.selectExpr("node AS src", "community AS ca")),
            "src",
        )
        .join(
            F.broadcast(labels.selectExpr("node AS dst", "community AS cb")),
            "dst",
        )
        .where(F.col("ca") == F.col("cb"))
        .agg(
            F.coalesce(F.sum("support"), F.lit(0))
            .cast("long")
            .alias("w_in")
        )
    )
    degsq = (
        deg.join(F.broadcast(labels.selectExpr("node AS src", "community")), "src")
        .groupBy("community")
        .agg(F.sum("deg").cast("long").alias("deg_c"))
        .selectExpr("CAST(deg_c AS DECIMAL(19,0)) AS dc")
        .agg(
            F.coalesce(
                F.sum(F.col("dc") * F.col("dc")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("sq")
        )
    )
    return (
        m2.crossJoin(F.broadcast(w_in))
        .crossJoin(F.broadcast(degsq))
        .selectExpr(
            "CASE WHEN m2 = 0 THEN 0.0 ELSE "
            "CAST(CAST(m2 AS DECIMAL(19,0)) * CAST(w_in AS DECIMAL(19,0))"
            " - sq AS DOUBLE) "
            "/ CAST(CAST(m2 AS DECIMAL(19,0)) * CAST(m2 AS DECIMAL(19,0))"
            " AS DOUBLE) END AS q"
        )
    )


def modularity(edges: DataFrame, labels: DataFrame) -> float:
    """Scalar convenience wrapper over `modularity_df` — pytest-only
    (tests assert Q bounds on tiny graphs); the registered
    `item_communities_lpa` query uses the declarative `modularity_df`
    broadcast, so no production plan collects through here."""
    row = modularity_df(edges, labels).collect()
    return float(row[0].q) if row else 0.0


def _lpa_sql() -> str:
    """The synchronous LPA rounds unrolled as MATERIALIZED CTEs (the
    kcore idiom), plus the exact-integer modularity of modularity_df
    — everything is integer counts, ROW_NUMBER tie-breaks, and ONE
    final float division, so the driver hash is exact (r9 rows-gate
    -> oracle conversion; the third instance of the unrolled-
    iteration playbook after kcore and bpe_train)."""
    ctes = [
        """de AS MATERIALIZED (
            SELECT i AS src, j AS dst, support FROM edges
            UNION ALL SELECT j AS src, i AS dst, support FROM edges
        )""",
        """l0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, src AS community FROM de
        )""",
    ]
    for r in range(1, LPA_ROUNDS + 1):
        ctes.append(f"""n{r} AS (
            SELECT e.src, l.community, SUM(e.support) AS w
            FROM de e JOIN l{r - 1} l ON l.node = e.dst
            GROUP BY 1, 2
        )""")
        ctes.append(f"""l{r} AS MATERIALIZED (
            SELECT src AS node, community FROM (
                SELECT src, community, ROW_NUMBER() OVER (
                    PARTITION BY src ORDER BY w DESC, community) AS rn
                FROM n{r}) WHERE rn = 1
        )""")
    last = f"l{LPA_ROUNDS}"
    return (
        "WITH "
        + _EDGES_CTE_SQL
        + ",\n"
        + ",\n".join(ctes)
        + f""",
        deg AS (SELECT src AS node, CAST(SUM(support) AS BIGINT) AS deg
                FROM de GROUP BY src),
        m2t AS (SELECT CAST(COALESCE(SUM(support), 0) AS BIGINT) AS m2
                FROM de),
        wint AS (
            SELECT CAST(COALESCE(SUM(e.support), 0) AS BIGINT) AS w_in
            FROM de e
            JOIN {last} a ON a.node = e.src
            JOIN {last} b ON b.node = e.dst
            WHERE a.community = b.community
        ),
        degsq AS (
            SELECT COALESCE(SUM(CAST(deg_c AS HUGEINT)
                                * CAST(deg_c AS HUGEINT)),
                            CAST(0 AS HUGEINT)) AS sq
            FROM (SELECT CAST(SUM(d.deg) AS BIGINT) AS deg_c
                  FROM deg d JOIN {last} l ON l.node = d.node
                  GROUP BY l.community)
        ),
        qv AS (
            SELECT CASE WHEN m2 = 0 THEN 0.0 ELSE
                CAST(CAST(m2 AS HUGEINT) * CAST(w_in AS HUGEINT)
                     - sq AS DOUBLE)
                / CAST(CAST(m2 AS HUGEINT) * CAST(m2 AS HUGEINT)
                       AS DOUBLE) END AS q
            FROM m2t, wint, degsq
        ),
        sizes AS (SELECT community,
                         CAST(COUNT(*) AS BIGINT) AS community_size
                  FROM {last} GROUP BY community)
        SELECT l.node AS item, l.community, s.community_size,
               ROUND(q, 6) AS modularity
        FROM {last} l JOIN sizes s USING (community), qv
        ORDER BY item
    """
    )


@register(
    "item_communities_lpa",
    oracle=_lpa_sql(),
    doc=f"Label-propagation communities (Raghavan 2007, {LPA_ROUNDS} "
    "synchronous rounds, max-incident-support adoption with smallest-"
    "label tiebreak) over the same scale-invariant co-occurrence "
    "edges as item_pagerank, with the partition's Newman modularity "
    "published alongside — the community-structure companion to the "
    "centrality (#20d) and triangle (#20c) views of the item graph. "
    "Each round is one vocabulary-bounded join+agg. Oracle hash gate "
    "since r9: the rounds unroll as MATERIALIZED CTEs (the kcore "
    "idiom) and modularity is the exact integer rational "
    "(2m*w_in - sum deg_c^2)/(2m)^2 with one final float division — "
    "both engines run the IDENTICAL bounded iteration, no float "
    "summation anywhere, and the former driver-side Q collect is now "
    "a declarative 1-row broadcast. Disjoint-clique recovery and "
    "modularity bounds stay pytest-pinned.",
    tags=("similarity", "graph"),
)
def item_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = cooccurrence_edges(spark, sf_dir)
    edges = e0.selectExpr("i AS src", "j AS dst", "support").unionAll(
        e0.selectExpr("j AS src", "i AS dst", "support")
    )
    labels = lpa_communities(edges)
    q_df = modularity_df(edges, labels)
    sizes = labels.groupBy("community").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return (
        labels.join(sizes, "community")
        .crossJoin(F.broadcast(q_df))
        .select(
            F.col("node").alias("item"),
            "community",
            "community_size",
            F.round(F.col("q"), 6).alias("modularity"),
        )
        .orderBy("item")
    )


# --- co-occurrence graph degree statistics ---------------------------------


@register(
    "graph_degree_stats",
    oracle=f"""
        WITH items AS ({_ITEMS_SQL}),
        u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM items),
        edges AS (
            SELECT a.item AS i, b.item AS j, COUNT(*) AS support
            FROM items a
            JOIN items b ON a.user_id = b.user_id AND a.item < b.item
            GROUP BY 1, 2
            HAVING COUNT(*) >= (SELECT {TRI_SUPPORT_FRAC} * n_users FROM u)
        ),
        degrees AS (
            SELECT node, COUNT(*) AS degree, SUM(support) AS strength
            FROM (SELECT i AS node, support FROM edges
                  UNION ALL
                  SELECT j AS node, support FROM edges)
            GROUP BY node
        )
        SELECT CAST(degree AS BIGINT) AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               ROUND(AVG(strength), 4) AS avg_strength,
               CAST(MIN(node) AS BIGINT) AS example_item
        FROM degrees
        GROUP BY degree
        ORDER BY degree
    """,
    doc="Degree distribution of the item co-occurrence graph (same "
    "support-thresholded edge set as the triangle query #20c): per "
    "degree, how many items have it, their mean strength (summed edge "
    "support), and a deterministic example node — the shape check "
    "(hub-and-spoke vs uniform) run before committing to PageRank or "
    "community rounds on a graph. Edges are vocabulary-bounded after "
    "one corpus aggregation; degrees come from a union fan-out of the "
    "bounded edge list (2|E| rows), never corpus data.",
    tags=("similarity", "graph"),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = cooccurrence_edges(spark, sf_dir)
    ends = edges.select(
        F.col("i").alias("node"), "support"
    ).unionByName(edges.select(F.col("j").alias("node"), "support"))
    degrees = ends.groupBy("node").agg(
        F.count(F.lit(1)).alias("degree"), F.sum("support").alias("strength")
    )
    return (
        degrees.groupBy("degree")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("strength"), 4).alias("avg_strength"),
            F.min("node").alias("example_item"),
        )
        .orderBy("degree")
    )


# --- local clustering coefficient ------------------------------------------

@register(
    "graph_clustering_coefficient",
    oracle=f"""
        WITH {_EDGES_CTE_SQL},
        tri AS (
            SELECT e1.i AS a, e1.j AS b, e2.j AS c
            FROM edges e1
            JOIN edges e2 ON e2.i = e1.j
            JOIN edges e3 ON e3.i = e1.i AND e3.j = e2.j
        ),
        tri_node AS (
            SELECT node, COUNT(*) AS triangles
            FROM (SELECT a AS node FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
            GROUP BY node
        ),
        degrees AS (
            SELECT node, COUNT(*) AS degree
            FROM (SELECT i AS node FROM edges
                  UNION ALL SELECT j FROM edges)
            GROUP BY node
        )
        SELECT d.node AS item,
               CAST(d.degree AS BIGINT) AS degree,
               CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
               ROUND(CASE WHEN d.degree >= 2
                          THEN 2.0 * COALESCE(t.triangles, 0)
                               / (d.degree * (d.degree - 1))
                          ELSE 0 END, 6) AS local_cc
        FROM degrees d LEFT JOIN tri_node t ON t.node = d.node
        ORDER BY item
    """,
    doc="Local clustering coefficient per item on the co-occurrence "
    "graph (Watts-Strogatz 1998): cc_i = 2*T_i / (deg_i*(deg_i-1)), "
    "with T_i counted from the same ordered (i<j<k) triangle join as "
    "#20c — each triangle credits all three corners via a 3-way "
    "projection union. The community-density screen run alongside "
    "the degree distribution #103 before LPA/PageRank rounds. All "
    "joins live on the vocabulary-bounded edge list; counts are "
    "integers so cc is a single exact final division.",
    tags=("similarity", "graph"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cooccurrence_edges is materialized inside the helper (r11)
    edges = cooccurrence_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.i") == F.col("e1.j"))
        .join(
            e3,
            (F.col("e3.i") == F.col("e1.i")) & (F.col("e3.j") == F.col("e2.j")),
        )
        .select(
            F.col("e1.i").alias("a"),
            F.col("e1.j").alias("b"),
            F.col("e2.j").alias("c"),
        )
    )
    tri_node = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select("b"))
        .unionAll(tri.select("c"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    degrees = (
        edges.select(F.col("i").alias("node"))
        .unionAll(edges.select("j"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    t = F.coalesce(F.col("triangles"), F.lit(0))
    return (
        degrees.join(tri_node, "node", "left")
        .select(
            F.col("node").alias("item"),
            F.col("degree").cast("long").alias("degree"),
            t.cast("long").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * t / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(0.0),
                6,
            ).alias("local_cc"),
        )
        .orderBy("item")
    )


# --- degree assortativity ---------------------------------------------------


@register(
    "graph_assortativity",
    oracle=f"""
        WITH {_EDGES_CTE_SQL},
        degrees AS (
            SELECT node, COUNT(*) AS degree
            FROM (SELECT i AS node FROM edges
                  UNION ALL SELECT j FROM edges)
            GROUP BY node
        ),
        pairs AS (
            -- each undirected edge counted in both directions, the
            -- standard symmetric form (Newman 2002 eq. 4)
            SELECT di.degree AS x, dj.degree AS y FROM edges e
            JOIN degrees di ON di.node = e.i
            JOIN degrees dj ON dj.node = e.j
            UNION ALL
            SELECT dj.degree, di.degree FROM edges e
            JOIN degrees di ON di.node = e.i
            JOIN degrees dj ON dj.node = e.j
        ),
        s AS (
            SELECT COUNT(*) AS m,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy
            FROM pairs
        ),
        nn AS (SELECT COUNT(*) AS n_nodes FROM degrees),
        ne AS (SELECT COUNT(*) AS n_edges FROM edges)
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_edges AS BIGINT) AS n_edges,
               ROUND((CAST(sxy AS DOUBLE) / m
                      - (CAST(sx AS DOUBLE) / m) * (CAST(sx AS DOUBLE) / m))
                     / NULLIF(CAST(sxx AS DOUBLE) / m
                              - (CAST(sx AS DOUBLE) / m)
                                * (CAST(sx AS DOUBLE) / m), 0),
                     6) AS assortativity
        FROM s, nn, ne
    """,
    doc="Degree assortativity of the co-occurrence graph (Newman 2002): "
    "the Pearson correlation of endpoint degrees over the doubled "
    "(symmetric) edge list — positive means hubs link to hubs "
    "(assortative mixing), negative means hub-and-spoke. Decides "
    "whether the Zipf-head hubs the skew advisor #10aq flags will "
    "concentrate in one shuffle partition during graph rounds. "
    "Sufficient statistics are exact HUGEINT/decimal sums of integer "
    "degree products; one final per-row formula.",
    tags=("similarity", "graph"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cooccurrence_edges is materialized inside the helper (r11)
    edges = cooccurrence_edges(spark, sf_dir)
    degrees = (
        edges.select(F.col("i").alias("node"))
        .unionAll(edges.select("j"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    di = degrees.select(
        F.col("node").alias("i"), F.col("degree").alias("dx")
    )
    dj = degrees.select(
        F.col("node").alias("j"), F.col("degree").alias("dy")
    )
    joined = edges.join(di, "i").join(dj, "j")
    pairs = joined.select(
        F.col("dx").alias("x"), F.col("dy").alias("y")
    ).unionAll(joined.select(F.col("dy").alias("x"), F.col("dx").alias("y")))
    dec = "decimal(38,0)"
    s = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    nn = degrees.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    st = s.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ne))
    dd = lambda c: c.cast("double")  # noqa: E731
    mean = dd(F.col("sx")) / F.col("m")
    return st.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.round(
            (dd(F.col("sxy")) / F.col("m") - mean * mean)
            / F.nullif(dd(F.col("sxx")) / F.col("m") - mean * mean, F.lit(0.0)),
            6,
        ).alias("assortativity"),
    )


# --- k-core decomposition (fixed-round truncated peel, seeded ladder) --------
#
# The operator is DEFINED as a fixed-round truncated peel (the same
# bounded-iteration idiom as PageRank's 10 fixed power iterations and
# LPA's 8 synchronous rounds): each round drops nodes with degree < k
# and the edges touching them. On any graph the truncated result is
# a superset of the true k-core; at the test SFs the peel reaches the
# fixpoint well inside the round budget (pytest-pinned against an
# exact Python peel), and at scale the bound keeps the job's round
# count — and therefore its shuffle count — deterministic.
#
# r9 (VERDICT r8 #5): the ladder is SEEDED — k=2 peels the raw edge
# list for KCORE_ROUNDS; k=3 starts from k=2's final edge set and
# k=4 from k=3's, each peeling KCORE_ROUNDS_SEEDED more rounds. Core
# monotonicity makes this sound: the true k-core is contained in the
# true (k-1)-core, which is contained in ANY truncated (k-1)-peel
# result, so seeding never drops a true-core edge and the truncated
# result stays a superset of the true k-core. 24 sequential bounded
# joins become 8 + 4 + 4 = 16, and the k=3/k=4 peels start from the
# already-thinned core instead of the full edge list. Both engines
# run the IDENTICAL seeded iteration.

KCORE_KS = (2, 3, 4)
KCORE_ROUNDS = 8
KCORE_ROUNDS_SEEDED = 4


def _kcore_rounds(k: int) -> int:
    return KCORE_ROUNDS if k == KCORE_KS[0] else KCORE_ROUNDS_SEEDED


def _kcore_sql() -> str:
    # every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    # each round references its predecessor three times — un-pinned,
    # the round chain re-expands the corpus scan exponentially (the
    # percolation_components / ADVICE-r7 oracle-cost lesson).
    ctes = []
    selects = []
    prev_last = "edges"
    for k in KCORE_KS:
        ctes.append(
            f"e_{k}_0 AS MATERIALIZED (SELECT i, j FROM {prev_last})"
        )
        for r in range(1, _kcore_rounds(k) + 1):
            prev = f"e_{k}_{r - 1}"
            ctes.append(f"""
        d_{k}_{r} AS MATERIALIZED (
            SELECT node FROM (SELECT i AS node FROM {prev}
                              UNION ALL SELECT j FROM {prev})
            GROUP BY node HAVING COUNT(*) >= {k}
        )""")
            ctes.append(f"""
        e_{k}_{r} AS MATERIALIZED (
            SELECT e.i, e.j FROM {prev} e
            JOIN d_{k}_{r} a ON a.node = e.i
            JOIN d_{k}_{r} b ON b.node = e.j
        )""")
        last = f"e_{k}_{_kcore_rounds(k)}"
        prev_last = last
        selects.append(f"""
        SELECT {k} AS k,
               (SELECT COUNT(*) FROM (
                    SELECT node FROM (SELECT i AS node FROM {last}
                                      UNION ALL SELECT j FROM {last})
                    GROUP BY node HAVING COUNT(*) >= {k}))
                   AS core_nodes,
               (SELECT COUNT(*) FROM {last}) AS core_edges""")
    return (
        "WITH " + _EDGES_CTE_SQL + ",\n" + ",\n".join(ctes) + "\n"
        + "\nUNION ALL".join(selects)
        + "\nORDER BY k"
    )


@register(
    "graph_kcore_summary",
    oracle=_kcore_sql(),
    doc=f"k-core summary of the co-occurrence graph (Seidman 1983): for "
    f"k in {KCORE_KS}, the node and edge counts surviving a truncated "
    f"peel (drop degree<k nodes and their edges each round): k=2 runs "
    f"{KCORE_ROUNDS} rounds on the raw edge list, and each higher k "
    f"SEEDS from its predecessor's final edge set for "
    f"{KCORE_ROUNDS_SEEDED} more rounds (sound by core monotonicity: "
    "true k-core within true (k-1)-core within any truncated "
    "(k-1)-peel result — VERDICT r8 #5, 24 -> 16 sequential joins). "
    "Both engines run the IDENTICAL seeded iteration, the "
    "PageRank/LPA idiom, so the driver hash is exact by construction; "
    "fixpoint equality vs an exact peel is pytest-pinned at test SFs. "
    "The cohesion ladder read alongside degree stats #103 and "
    "clustering coefficient #181: how much of the graph survives "
    "increasingly strict mutual-density demands. All rounds operate "
    "on the vocabulary-bounded edge list.",
    tags=("similarity", "graph"),
)
def graph_kcore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each round is materialized (eager localCheckpoint) and counted:
    # the peel only REMOVES edges, so an unchanged count proves the
    # edge SET is unchanged — fixpoint — and every remaining budgeted
    # round is the identity. Early-stopping therefore returns the
    # bit-identical result of running the full fixed-round definition
    # (which the oracle always does), while skipping the empty/settled
    # rounds that are pure scheduling overhead (sf0.1's co-occurrence
    # graph peels to empty at k=2 round 1; the r8 slow-slot was 24
    # scheduled joins over nothing).
    e = (
        cooccurrence_edges(spark, sf_dir)
        .select("i", "j")
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()

    def ends(e: DataFrame) -> DataFrame:
        return e.select(F.col("i").alias("node")).unionAll(
            e.select(F.col("j").alias("node"))
        )

    outs = []
    for k in KCORE_KS:
        for _ in range(_kcore_rounds(k)):
            d = (
                ends(e)
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") >= k)
                .select("node")
            )
            e = (
                # d (surviving nodes) is node-bounded — broadcast both
                # semi-filters so the peel never shuffles the edge list
                e.join(F.broadcast(d.withColumnRenamed("node", "i")), "i")
                .join(F.broadcast(d.withColumnRenamed("node", "j")), "j")
                .select("i", "j")
                .localCheckpoint(eager=True)
            )
            n = e.count()
            if n == n_prev:
                break
            n_prev = n
        nodes = (
            ends(e)
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= k)
        )
        outs.append(
            nodes.agg(F.count(F.lit(1)).alias("core_nodes"))
            .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("core_edges"))))
            .select(
                F.lit(k).cast("int").alias("k"),
                F.col("core_nodes").cast("long").alias("core_nodes"),
                F.col("core_edges").cast("long").alias("core_edges"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("k")
