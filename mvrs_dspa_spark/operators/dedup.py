"""Deduplication family over `documents` (SURVEY §2f #30-33).

Four escalating strategies, all engine-portable:

- exact: normalize text, group on it, emit canonical mapping.
- minhash_lsh: bigram-shingle MinHash signatures + band-bucket join
  (`functions/minhash.py`) — the linear-shuffle scale path.
- simhash: 32-bit simhash over shingle hashes, 4x8-bit band candidate
  generation, Hamming<=3 verification (pigeonhole: banding is lossless
  for that radius). At cluster scale widen to 64-bit/16-bit bands.
- ngram_jaccard: exact bigram-set Jaccard via explode + equi-join —
  the verification baseline the approximate methods are judged against.

Shingle codes compose token char-hashes arithmetically
((tc_i*31 + tc_{i+1}) mod P), so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.config import settings
from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.functions import minhash as MH
from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

# Thresholds from the typed settings object (Settings.scala analog);
# oracle SQL strings below bake the same values -> override-safe.
N_HASHES = settings.dedup.minhash_num_hashes
BANDS = settings.dedup.lsh_bands
SEED = 2719
NEAR_DUP_SIM = settings.dedup.near_dup_similarity
JACCARD_THRESHOLD = settings.dedup.ngram_jaccard_threshold
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
HAMMING_MAX = 3  # 4 bands over 32 bits: any pair with ham<=3 shares a band

_PARAMS = H.hash_params(N_HASHES, seed=SEED)
_SH_A, _SH_B = H.hash_params(1, seed=31337)[0]


# --- shared shingle machinery ---------------------------------------------

def shingles_from_codes(tc: Column) -> Column:
    """Distinct bigram shingle codes from a token-code array column.

    Deliberately zip_with(slice, slice) rather than
    transform(sequence, i -> element_at(tc, i) ...): CollapseProject
    inlines the upstream token-hash expression into every lambda
    reference, so the element_at form re-evaluates the FULL token-code
    array once per shingle index — O(tokens^2) hash evals per document
    (measured 5.6 ms/doc; the whole dedup family was ~30 s at sf0.1).
    The slice form references tc twice, total work O(tokens)."""
    # greatest(.., 0): slice() throws on a negative length, which a
    # zero-token (empty/whitespace-only) document would produce
    n = F.greatest(F.size(tc) - 1, F.lit(0))
    left = F.slice(tc, F.lit(1), n)
    right = F.slice(tc, F.lit(2), n)
    return F.array_distinct(
        F.zip_with(left, right, lambda x, y: (x * 31 + y) % F.lit(H.P))
    )


# staged: tokens -> token codes -> shingles, each a separate projection
_SHINGLES_SQL = f"""
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len(tc) - 1),
               i -> (tc[i] * 31 + tc[i + 1]) % {H.P})) AS sh
    FROM (
        SELECT doc_id, list_transform(toks, t -> {H.str_code_sql('t')}) AS tc
        FROM (SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents)
    )
"""

_DOC_SHINGLE_ITEMS_SQL = f"""
    SELECT doc_id, unnest(sh) AS code
    FROM ({_SHINGLES_SQL})
    WHERE len(sh) > 0
"""


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenize+hash is CPU-bound per row; a small parquet file scans as
    # ONE split, serializing the whole pipeline on one core. Repartition
    # by doc_id first: the raw-text shuffle is tiny, and every groupBy
    # downstream is on doc_id so the hash partitioning is reused (no
    # further exchange of the exploded shingles).
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # Hash inside the zip_with lambda rather than materializing a
    # token-code array first: CollapseProject inlines a computed `tc`
    # into all four references (two slices + two sizes) = 4n md5
    # evals/doc; hashing per pair element is 2n and measured ~40%
    # faster end-to-end (sf0.1 shingle scan 1.18s -> 0.73s).
    toks = F.col("toks")
    n = F.greatest(F.size(toks) - 1, F.lit(0))  # slice() throws on length -1
    left = F.slice(toks, F.lit(1), n)
    right = F.slice(toks, F.lit(2), n)
    sh = F.array_distinct(
        F.zip_with(
            left,
            right,
            lambda x, y: (H.str_code_col(x) * 31 + H.str_code_col(y)) % F.lit(H.P),
        )
    )
    return d.select("doc_id", T.tokens_col(F.col("text")).alias("toks")).select(
        "doc_id", sh.alias("sh")
    )


def _doc_shingle_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _doc_shingles(spark, sf_dir)
        .where(F.size("sh") > 0)
        .select("doc_id", F.explode("sh").alias("code"))
    )


# --- exact dedup -----------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
        WITH norm AS (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text
            FROM documents
        )
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY norm_text) AS canonical_doc_id,
               COUNT(*) OVER (PARTITION BY norm_text) AS group_size
        FROM norm
        ORDER BY doc_id
    """,
    doc="Exact dedup: whitespace/case-normalized text, canonical id per group.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim("text")), "\\s+", " ").alias("norm_text"),
    )
    w = Window.partitionBy("norm_text")
    return norm.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_doc_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    ).orderBy("doc_id")


# --- minhash LSH near-dup ---------------------------------------------------

def _doc_array_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sg) ARRAY-form signatures straight from the per-doc
    shingle arrays — array_min per hash family, no explode/groupBy:
    the signature stage is projection-only (zero shuffles)."""
    sh = _doc_shingles(spark, sf_dir).where(F.size("sh") > 0)
    return sh.select(
        "doc_id", MH.signature_array_col("sh", _PARAMS).alias("sg")
    )


_SIG_SQL = MH.signature_sql(_DOC_SHINGLE_ITEMS_SQL, "doc_id", "code", _PARAMS)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH cand AS ({MH.candidate_pairs_sql(_SIG_SQL, "doc_id", N_HASHES, BANDS)}),
        sig AS ({_SIG_SQL})
        SELECT c.id_a AS doc_a, c.id_b AS doc_b,
               {MH.est_similarity_sql(N_HASHES)} AS est_sim
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
        WHERE {MH.est_similarity_sql(N_HASHES)} >= {NEAR_DUP_SIM}
        ORDER BY doc_a, doc_b
    """,
    doc="MinHash(32)+LSH(16x2) near-duplicate doc pairs over bigram "
    "shingles, est Jaccard >= 0.5.",
    tags=("dedup", "bench"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir).where(F.size("sh") > 0)
    return minhash_pairs_from_shingles(sh).orderBy("doc_a", "doc_b")


def minhash_pairs_from_shingles(sh: DataFrame) -> DataFrame:
    """MinHash+LSH near-dup pairs from a prebuilt (doc_id, sh) shingle
    frame — the scan-free core of `dedup_minhash_lsh`, shared with
    consumers that already hold the shingles (dedup_method_eval runs
    this AND the exact pipeline off ONE checkpointed shingle scan).
    Signatures scored inside the band join (no sig re-join/distinct)."""
    sigs = sh.select(
        "doc_id", MH.signature_array_col("sh", _PARAMS).alias("sg")
    )
    return (
        MH.scored_candidate_pairs_from_array_sig_df(
            sigs, "doc_id", N_HASHES, BANDS
        )
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "est_sim",
        )
        .where(F.col("est_sim") >= NEAR_DUP_SIM)
    )


INCR_MOD = 4  # doc_id % 4 == 0 -> incoming batch; everything else -> corpus
# integer match-count threshold: est_sim >= 0.5 <=> matches >= n/2;
# comparing the integer keeps the keep/drop decision engine-exact
MIN_MATCHES = int(N_HASHES * NEAR_DUP_SIM)


@register(
    "dedup_incremental",
    oracle=f"""
        WITH sig AS ({_SIG_SQL}),
        buckets AS ({MH.bucket_rows_sql("doc_id", N_HASHES, BANDS)}),
        matches AS (
            SELECT a.doc_id AS inc_id, MIN(b.doc_id) AS dup_of
            FROM buckets a
            JOIN buckets b ON a.band = b.band AND a.bh = b.bh
            JOIN sig sa ON sa.doc_id = a.doc_id
            JOIN sig sb ON sb.doc_id = b.doc_id
            WHERE a.doc_id % {INCR_MOD} = 0 AND b.doc_id % {INCR_MOD} <> 0
              AND ({MH.sig_match_count_sql(N_HASHES)}) >= {MIN_MATCHES}
            GROUP BY a.doc_id
        )
        SELECT d.doc_id,
               m.dup_of IS NULL AS keep,
               m.dup_of
        FROM documents d LEFT JOIN matches m ON m.inc_id = d.doc_id
        WHERE d.doc_id % {INCR_MOD} = 0
        ORDER BY d.doc_id
    """,
    doc="Incremental dedup: a new batch (doc_id % 4 == 0 stands in for "
    "the delta) checked against the existing corpus via the SAME "
    "MinHash band buckets, asymmetrically — no corpus-corpus pairs are "
    "ever formed. dup_of = lowest matching corpus doc. The shape a "
    "recurring crawl pipeline runs daily: at 100 TB the corpus side is "
    "a precomputed signature table and only the delta is re-shingled.",
    tags=("dedup", "llm"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT checkpointed (r11, measured): unlike the scored-pairs
    # helpers, materializing the signature frame here REGRESSED the
    # benched count path (1.6 -> 2.3 s at sf0.1, noop flat) — the
    # asymmetric delta-vs-corpus join filters each side differently,
    # so the checkpoint only adds a materialization barrier
    buckets = MH.bucket_rows_from_sig_df(
        _doc_array_sigs(spark, sf_dir), N_HASHES, BANDS
    )
    inc = buckets.where(F.col("doc_id") % INCR_MOD == 0).alias("a")
    corp = buckets.where(F.col("doc_id") % INCR_MOD != 0).alias("b")
    matches = MH.sig_match_count_col(F.col("a.sg"), F.col("b.sg"))
    matched = (
        inc.join(
            corp,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
        )
        .where(matches >= MIN_MATCHES)
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("corp_id"))
        .groupBy("doc_id")
        .agg(F.min("corp_id").alias("dup_of"))
    )
    incoming = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % INCR_MOD == 0)
        .select("doc_id")
    )
    return (
        incoming.join(matched, "doc_id", "left")
        .select("doc_id", F.col("dup_of").isNull().alias("keep"), "dup_of")
        .orderBy("doc_id")
    )


# --- simhash ---------------------------------------------------------------

def simhash_agg(items: DataFrame, id_col: str, code_col: str) -> DataFrame:
    """32-bit simhash per id from exploded (id, code) rows.

    Aggregation form (count_if per bit + majority vote) rather than
    array lambdas: Catalyst's projection collapse would otherwise
    inline the full upstream pipeline into each of the 32 bit
    expressions. One partial-aggregated shuffle on id — the shape
    that holds at 100 TB."""
    h = H.affine_col(F.col(code_col), _SH_A, _SH_B)
    ones = [
        F.count_if(h.bitwiseAND(F.lit(1 << i)) != 0).alias(f"c{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = items.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *ones)
    sim: Column = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        bit = (F.col(f"c{i}") * 2 > F.col("n")).cast("long")
        sim = sim + bit * F.lit(1 << i)
    return agg.select(F.col(id_col), sim.alias("sim"))


def _simhash_sql(codes: str) -> str:
    hs = f"list_transform({codes}, c -> {H.affine_sql('c', _SH_A, _SH_B)})"
    terms = []
    for i in range(SIMHASH_BITS):
        ones = f"len(list_filter(h, x -> (x & {1 << i}) <> 0))"
        terms.append(f"(CASE WHEN {ones} * 2 > len(h) THEN {1 << i}::BIGINT ELSE 0 END)")
    return f"(SELECT {' + '.join(terms)} FROM (SELECT {hs} AS h))"


@register(
    "dedup_simhash",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, {_simhash_sql('sh')} AS sim
            FROM ({_SHINGLES_SQL})
            WHERE len(sh) > 0
        ),
        buckets AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, sim, {b} AS band, (sim >> {8 * b}) & 255 AS bv FROM sh"
                for b in range(SIMHASH_BANDS)
            )}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sim AS sim_a, b.sim AS sim_b
            FROM buckets a
            JOIN buckets b ON a.band = b.band AND a.bv = b.bv
                          AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
        FROM cand
        WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
        ORDER BY doc_a, doc_b
    """,
    doc="SimHash(32-bit over bigram shingles) near-dups, 4x8-bit band "
    "candidates, Hamming <= 3 (banding lossless at that radius).",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = simhash_agg(_doc_shingle_items(spark, sf_dir), "doc_id", "code")
    buckets = sh.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sim", 8 * b).bitwiseAND(F.lit(255)).alias("bv"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sim", "bk.band", "bk.bv")
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


# --- exact n-gram Jaccard ----------------------------------------------------

@register(
    "ngram_jaccard_pairs",
    oracle=f"""
        WITH items AS ({_DOC_SHINGLE_ITEMS_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM items GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS k
            FROM items a JOIN items b ON a.code = b.code AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(1.0 * k / (sa.n + sb.n - k), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE 1.0 * k / (sa.n + sb.n - k) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    doc="Exact bigram-set Jaccard pairs >= 0.3 (explode + equi-join; "
    "the ground truth for the approximate dedup paths).",
    tags=("dedup",),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the per-doc shingle arrays once: the inverted-index
    # self-join below references them on both sides, and without the
    # checkpoint the CPU-bound tokenize+md5 scan runs twice (r11)
    sh = (
        _doc_shingles(spark, sf_dir)
        .where(F.size("sh") > 0)
        .localCheckpoint(eager=False)
    )
    return jaccard_pairs_from_shingles(sh).orderBy("doc_a", "doc_b")


def jaccard_pairs_from_shingles(
    sh: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact shingle-Jaccard pairs from a prebuilt (doc_id, sh) frame
    (scan-free core of `ngram_jaccard_pairs`; shared by
    dedup_method_eval). The shingle-set size rides each exploded row
    out of the SAME projection (sh is already distinct), so the
    Jaccard denominator needs no per-doc sizes table — the former
    forced O(docs) broadcasts were the same scale hazard the round-2
    verdict flagged on similar_users_jaccard."""
    items = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("code")
    )
    a, b = items.alias("a"), items.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.code") == F.col("b.code"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
        )
    )
    jac = F.col("k").cast("double") / (F.col("na") + F.col("nb") - F.col("k"))
    return inter.where(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# --- near-dup connected components -----------------------------------------

_PAIRS_SQL = f"""
    SELECT c.id_a AS doc_a, c.id_b AS doc_b
    FROM ({MH.candidate_pairs_sql(_SIG_SQL, "doc_id", N_HASHES, BANDS)}) c
    JOIN ({_SIG_SQL}) sa ON sa.doc_id = c.id_a
    JOIN ({_SIG_SQL}) sb ON sb.doc_id = c.id_b
    WHERE {MH.est_similarity_sql(N_HASHES)} >= {NEAR_DUP_SIM}
"""

CC_MAX_ROUNDS = 16


def cluster_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by min-label propagation.

    `nodes` is (doc,), `edges` is directed (a, b) — pass both
    directions for undirected graphs. Returns (doc, comp) with comp =
    min doc id in the component. Rounds needed = component diameter;
    near-dup clusters are small and dense, so this converges in a few
    rounds (the alternating-star algorithm is the fallback if a
    pathological long-chain graph ever shows up). The edge set is
    localCheckpoint'ed once and re-joined per round — iterative reuse,
    not a shared-subplan persist.
    """
    edges = edges.localCheckpoint(eager=True)
    labels = nodes.select(F.col("doc"), F.col("doc").alias("comp")).localCheckpoint(
        eager=True
    )
    for _ in range(CC_MAX_ROUNDS):
        nmin = (
            edges.join(labels, edges["b"] == labels["doc"])
            .groupBy(F.col("a").alias("doc2"))
            .agg(F.min("comp").alias("nmin"))
        )
        joined = labels.join(nmin, labels["doc"] == nmin["doc2"], "left")
        if joined.where(F.col("nmin") < F.col("comp")).isEmpty():
            return labels
        labels = joined.select(
            "doc", F.least("comp", F.coalesce("nmin", "comp")).alias("comp")
        ).localCheckpoint(eager=True)
    raise RuntimeError(f"components did not converge in {CC_MAX_ROUNDS} rounds")


@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE
        pairs AS ({_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        reach AS (
            SELECT doc_id AS doc, doc_id AS comp FROM documents
            UNION
            SELECT e.b AS doc, r.comp FROM reach r JOIN edges e ON e.a = r.doc
        )
        SELECT doc AS doc_id,
               MIN(comp) AS cluster_id,
               (doc = MIN(comp)) AS keep
        FROM reach
        GROUP BY doc
        ORDER BY doc_id
    """,
    doc="Near-dup cluster assignment: connected components over the "
    "minhash-LSH near-dup pair graph (est Jaccard >= 0.5), cluster id "
    "= min doc_id in the component, keep = is-representative. The "
    "dedup decision table a training pipeline actually consumes — "
    "pairs alone under-remove (transitive dups). Spark: min-label "
    "propagation, O(diameter) rounds; oracle: recursive CTE closure.",
    tags=("dedup",),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        MH.scored_candidate_pairs_from_array_sig_df(
            _doc_array_sigs(spark, sf_dir), "doc_id", N_HASHES, BANDS
        )
        .where(F.col("est_sim") >= NEAR_DUP_SIM)
        .select("id_a", "id_b")
    )
    edges = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).unionAll(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
    nodes = table(spark, sf_dir, "documents").select(F.col("doc_id").alias("doc"))
    labels = cluster_components(nodes, edges)
    return labels.select(
        F.col("doc").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("doc") == F.col("comp")).alias("keep"),
    ).orderBy("doc_id")


# --- boilerplate n-gram stats ----------------------------------------------

BOILERPLATE_DF_FRAC = 0.25  # shingle is boilerplate if in >= 25% of docs


@register(
    "boilerplate_ngrams",
    oracle=f"""
        WITH items AS ({_DOC_SHINGLE_ITEMS_SQL}),
        n AS (SELECT COUNT(*) AS total FROM documents),
        freq AS (SELECT code, COUNT(*) AS df FROM items GROUP BY code),
        common AS (
            SELECT code FROM freq, n
            WHERE df >= CEIL({BOILERPLATE_DF_FRAC} * total)
        ),
        per AS (SELECT doc_id, COUNT(*) AS n_shingles FROM items GROUP BY doc_id),
        hits AS (
            SELECT i.doc_id, COUNT(*) AS n_common
            FROM items i JOIN common USING (code)
            GROUP BY i.doc_id
        )
        SELECT p.doc_id,
               CAST(p.n_shingles AS BIGINT) AS n_shingles,
               CAST(COALESCE(h.n_common, 0) AS BIGINT) AS n_common,
               ROUND(COALESCE(h.n_common, 0)::DOUBLE / p.n_shingles, 6)
                   AS common_frac
        FROM per p LEFT JOIN hits h USING (doc_id)
        ORDER BY doc_id
    """,
    doc="C4/Gopher-style boilerplate share: fraction of each doc's "
    "distinct bigram shingles whose corpus document-frequency is >= "
    "25% of all docs. DF table shuffles once on code; the common set "
    "is broadcast back (bounded above by shingle-occurrences / "
    "df-threshold, so it CANNOT grow linearly with the corpus).",
    tags=("dedup", "llm"),
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate fraction via shingle document frequency.

    Both per-doc aggregations reuse the doc_id hash partitioning set
    in `_doc_shingles`; the only data-sized shuffle is the DF groupBy
    on code (near-uniform keys). The `common` broadcast is bounded:
    at df-threshold k over M total (doc, shingle) occurrences there
    can be at most M/k distinct common codes.
    """
    # shingle arrays materialized once (r11): the CPU-bound tokenize+
    # md5 scan fed three consumers (df table, per-doc sizes, hit
    # counts) and ran three times; and since the arrays are already
    # distinct, per-doc shingle counts are just size(sh) — no
    # explode + groupBy pass at all
    sh = (
        _doc_shingles(spark, sf_dir)
        .where(F.size("sh") > 0)
        .localCheckpoint(eager=False)
    )
    items = sh.select("doc_id", F.explode("sh").alias("code"))
    total = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("total")
    )
    freq = items.groupBy("code").agg(F.count(F.lit(1)).alias("df"))
    common = (
        freq.crossJoin(F.broadcast(total))
        .where(F.col("df") >= F.ceil(BOILERPLATE_DF_FRAC * F.col("total")))
        .select("code")
    )
    per = sh.select(
        "doc_id", F.size("sh").cast("long").alias("n_shingles")
    )
    hits = (
        items.join(F.broadcast(common), "code")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        per.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            n_common.cast("long").alias("n_common"),
            F.round(
                n_common.cast("double") / F.col("n_shingles"), 6
            ).alias("common_frac"),
        )
        .orderBy("doc_id")
    )


# --- exact set-similarity join via prefix filtering (PPJoin family) --------

PREFIX_JACCARD_TAU = 0.6  # ceil(0.6*n) = (3n+4) div 5 in exact ints


@register(
    "prefix_jaccard_join",
    oracle=f"""
        WITH sets AS (
            SELECT doc_id,
                   list_distinct({T.tokens_sql('text')}) AS s
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.s, b.s)) AS i,
                   len(a.s) AS na, len(b.s) AS nb
            FROM sets a JOIN sets b ON a.doc_id < b.doc_id
            WHERE len(a.s) > 0 AND len(b.s) > 0
        )
        SELECT doc_a, doc_b,
               ROUND(i::DOUBLE / (na + nb - i), 6) AS jaccard
        FROM pairs
        WHERE 5 * i >= 3 * (na + nb - i)
        ORDER BY doc_a, doc_b
    """,
    doc=f"Exact token-set similarity join (Jaccard >= "
    f"{PREFIX_JACCARD_TAU}) via PREFIX FILTERING (AllPairs/PPJoin, "
    "Bayardo et al. 2007 / Xiao et al. 2008): tokens ordered "
    "rarest-first by global document frequency, each set joins only "
    "on its first n-ceil(tau*n)+1 tokens — any qualifying pair "
    "provably shares a prefix token. Vs the all-token equi-join "
    "(ngram_jaccard_pairs): candidate volume shrinks to the prefix "
    "and, crucially, the join keys avoid the Zipf HEAD — the hottest "
    "tokens sit at the back of the ordering, so the candidate join "
    "has no skew hotspot at 100 TB. Sets ride the prefix rows "
    "(same carry-the-payload idiom as the scored MinHash band join), "
    "so verification is join-local; the threshold test is exact "
    "integer arithmetic (5i >= 3(na+nb-i)). The oracle is the "
    "BRUTE-FORCE all-pairs join, so the hash gate proves the prefix "
    "filter drops nothing.",
    tags=("dedup", "similarity"),
)
def prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # tokenize ONCE (r11): the distinct-token arrays feed the df build
    # and the per-doc join (2 tokenize passes before), and the sorted
    # prefix table feeds BOTH self-join sides (which re-ran the whole
    # pipeline) — 4 documents scans -> 1.
    t = d.select(
        "doc_id",
        F.array_distinct(T.tokens_col(F.col("text"))).alias("toks"),
    ).localCheckpoint(eager=False)
    tok_rows = t.select("doc_id", F.explode("toks").alias("token"))
    df_tok = tok_rows.groupBy("token").agg(
        F.count(F.lit(1)).alias("tdf")
    )
    # per-doc token array ordered rarest-first (df, then token), built
    # with ONE aggregation; sort_array on (tdf, token) structs gives
    # the same deterministic order both engines would derive
    per_doc = (
        tok_rows.join(df_tok, "token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tdf", "token"))),
                lambda x: x["token"],
            ).alias("s")
        )
        .withColumn("n", F.size("s"))
        .where(F.col("n") > 0)
        .withColumn("p", F.col("n") - F.expr("(3*n + 4) div 5") + 1)
        .localCheckpoint(eager=False)
    )
    pref = per_doc.select(
        "doc_id",
        "s",
        "n",
        F.explode(F.slice("s", F.lit(1), F.col("p"))).alias("token"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    i = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            i.alias("i"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .where(5 * F.col("i") >= 3 * (F.col("na") + F.col("nb") - F.col("i")))
        # one row per shared prefix token; values identical -> cheap dedup
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first("i").alias("i"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")),
            6,
        ).alias("jaccard"),
    ).orderBy("doc_a", "doc_b")


# --- MinHash estimator calibration ------------------------------------------


@register(
    "minhash_calibration",
    oracle=f"""
        WITH items AS ({_DOC_SHINGLE_ITEMS_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM items GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS k
            FROM items a JOIN items b
              ON a.code = b.code AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        exact AS (
            SELECT doc_a, doc_b,
                   1.0 * k / (sa.n + sb.n - k) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE 1.0 * k / (sa.n + sb.n - k) >= {JACCARD_THRESHOLD}
        ),
        cand AS ({MH.candidate_pairs_sql(_SIG_SQL, "doc_id", N_HASHES, BANDS)}),
        sig AS ({_SIG_SQL}),
        est AS (
            SELECT c.id_a AS doc_a, c.id_b AS doc_b,
                   {MH.est_similarity_sql(N_HASHES)} AS est_sim
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b
        )
        SELECT CAST(FLOOR(e.jaccard * 10) AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(e.jaccard), 6) AS mean_exact,
               ROUND(AVG(m.est_sim), 6) AS mean_est,
               ROUND(AVG(ABS(m.est_sim - e.jaccard)), 6) AS mean_abs_err
        FROM exact e JOIN est m USING (doc_a, doc_b)
        GROUP BY 1
        ORDER BY bucket
    """,
    doc=f"MinHash estimator calibration: for every LSH-candidate pair "
    f"that also has exact shingle Jaccard >= {JACCARD_THRESHOLD}, "
    "compare the 32-hash signature estimate against the exact value, "
    "bucketed by exact-Jaccard decile — mean_est should track "
    "mean_exact within the binomial sd sqrt(J(1-J)/32) ~= 0.09 "
    "(E[est] = J is the MMDS ch.3 guarantee this table makes "
    "visible). The report that justifies the production thresholds: "
    "it shows directly what est>=0.5 admits at each true similarity. "
    "Composes the registered exact-pair and signature definitions on "
    "both engines; both sides stay bucketed joins, never all-pairs.",
    tags=("dedup", "llm"),
)
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir).where(F.size("sh") > 0)
    items = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("code")
    )
    a, b = items.alias("a"), items.alias("b")
    exact = (
        a.join(
            b,
            (F.col("a.code") == F.col("b.code"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("k").cast("double")
                / (F.col("na") + F.col("nb") - F.col("k"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    est = MH.scored_candidate_pairs_from_array_sig_df(
        _doc_array_sigs(spark, sf_dir), "doc_id", N_HASHES, BANDS
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "est_sim",
    )
    return (
        exact.join(est, ["doc_a", "doc_b"])
        .groupBy(
            F.floor(F.col("jaccard") * 10).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("mean_exact"),
            F.round(F.avg("est_sim"), 6).alias("mean_est"),
            F.round(
                F.avg(F.abs(F.col("est_sim") - F.col("jaccard"))), 6
            ).alias("mean_abs_err"),
        )
        .orderBy("bucket")
    )


# --- asymmetric containment pairs ------------------------------------------

CONTAINMENT_TAU = 0.8  # |A∩B| / |A| >= tau -> A is (near-)contained in B


@register(
    "dedup_containment",
    oracle=f"""
        WITH items AS ({_DOC_SHINGLE_ITEMS_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM items GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS k
            FROM items a JOIN items b
              ON a.code = b.code AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(1.0 * k / sa.n, 6) AS containment_a_in_b,
               ROUND(1.0 * k / sb.n, 6) AS containment_b_in_a
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE 1.0 * k / sa.n >= {CONTAINMENT_TAU}
           OR 1.0 * k / sb.n >= {CONTAINMENT_TAU}
        ORDER BY doc_a, doc_b
    """,
    doc="Asymmetric near-containment pairs (Broder's containment "
    "coefficient |A∩B|/|A|): catches quotes, reposts, and "
    "boilerplate-wrapped copies that SYMMETRIC Jaccard misses — a "
    "short doc fully embedded in a long one has tiny Jaccard but "
    f"containment ~1. Pairs with either direction >= {CONTAINMENT_TAU} "
    "via the same exact inverted-index shingle join as "
    "ngram_jaccard_pairs (set sizes ride the exploded rows — no "
    "per-doc broadcasts); at the web scale regime the identical "
    "formula runs on the MinHash band candidates instead "
    "(dedup_minhash_lsh machinery) with estimated sizes.",
    tags=("dedup", "llm"),
)
def dedup_containment(
    spark: SparkSession, sf_dir: str, df_cap: int | None = None
) -> DataFrame:
    """`df_cap` (VERDICT r8 #3) is the web-scale knob: codes whose
    document frequency exceeds the cap are dropped BEFORE the
    inverted-index self-join, bounding per-key join output at df_cap^2
    (a crawl's license-header shingle has corpus-proportional df, and
    no partition split can divide OUTPUT-side df^2 work inside one
    key — the r8 AQE probe's measured mechanism). Set sizes `n` stay
    UNCAPPED, so surviving pairs report exact containment; pairs whose
    overlap lives ONLY in above-cap boilerplate codes are the recall
    traded away — precisely the pairs containment dedup should not act
    on. df_cap=None (the registered query) is plan-identical to the
    uncapped join, and capped == uncapped on any corpus whose max df
    is below the cap (tests/test_df_cap.py)."""
    # shingle arrays materialized once — both sides of the inverted-
    # index self-join (and the optional df-cap build) read them (r11)
    sh = (
        _doc_shingles(spark, sf_dir)
        .where(F.size("sh") > 0)
        .localCheckpoint(eager=False)
    )
    items = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("code")
    )
    if df_cap is not None:
        keep = (
            items.groupBy("code")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= df_cap)
            .select("code")
        )
        items = items.join(keep, "code", "left_semi")
    a, b = items.alias("a"), items.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.code") == F.col("b.code"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
        )
    )
    c_ab = F.col("k").cast("double") / F.col("na")
    c_ba = F.col("k").cast("double") / F.col("nb")
    return (
        inter.where((c_ab >= CONTAINMENT_TAU) | (c_ba >= CONTAINMENT_TAU))
        .select(
            "doc_a",
            "doc_b",
            F.round(c_ab, 6).alias("containment_a_in_b"),
            F.round(c_ba, 6).alias("containment_b_in_a"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- exact substring-level duplication (Lee et al. 2022) ---------------------

SUBSTR_WINDOW = 50
SUBSTR_STRIDE = 10


@register(
    "substring_dup_rate",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   substr(text, CAST(pos AS INT), {SUBSTR_WINDOW}) AS win
            FROM documents,
                 UNNEST(generate_series(
                     1, GREATEST(length(text) - {SUBSTR_WINDOW - 1}, 0),
                     {SUBSTR_STRIDE})) AS t(pos)
        ),
        stats AS (
            SELECT win, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY win
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(count_if(nd >= 2) AS BIGINT) AS n_shared,
               ROUND(count_if(nd >= 2) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS dup_rate
        FROM w JOIN stats USING (win)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc="Exact substring-level duplication rate (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better', "
    f"arXiv:2107.06499): {SUBSTR_WINDOW}-char windows every "
    f"{SUBSTR_STRIDE} chars; a window whose exact text appears in at "
    "least one OTHER document is duplicated content, and the per-doc "
    "share of such windows is the removal signal (the doc-level form "
    "of the paper's ExactSubstr; shingles/MinHash in #31 catch "
    "near-dup DOCUMENTS, this catches verbatim PASSAGES embedded in "
    "otherwise-distinct documents — quotes, licenses, templates). "
    "Window explosion is len/stride per doc (documented fan-out, "
    "stride trades recall for volume); the window vocabulary "
    "aggregates once and joins back by exact window text — "
    "boilerplate windows are Zipf-hot, the same AQE skew-join shape "
    "as the unigram-LM scorer. At 100 TB: hash the window to int64 "
    "for the shuffle and keep one exact-verify pass per colliding "
    "bucket; here windows are 50 chars and the exact text IS the "
    "join key, so there is no collision step to verify.",
    tags=("llm", "dedup"),
)
def substring_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    positions = F.when(
        F.length("text") >= SUBSTR_WINDOW,
        F.sequence(
            F.lit(1),
            F.length("text") - (SUBSTR_WINDOW - 1),
            F.lit(SUBSTR_STRIDE),
        ),
    ).otherwise(F.array().cast("array<int>"))
    w = d.select(
        "doc_id", F.explode(positions).alias("pos"), "text"
    ).select(
        "doc_id",
        F.substring(F.col("text"), F.col("pos"), SUBSTR_WINDOW).alias("win"),
    )
    stats = w.groupBy("win").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    shared = F.count_if(F.col("nd") >= 2)
    return (
        w.join(stats, "win")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            shared.alias("n_shared"),
            F.round(
                shared / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_rate"),
        )
        .orderBy("doc_id")
    )


# --- ingest-order novelty -----------------------------------------------------


@register(
    "doc_novelty_rate",
    oracle=f"""
        WITH items AS ({_DOC_SHINGLE_ITEMS_SQL}),
        first_seen AS (
            SELECT code, MIN(doc_id) AS first_doc FROM items GROUP BY code
        )
        SELECT i.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(count_if(f.first_doc = i.doc_id) AS BIGINT) AS n_novel,
               ROUND(count_if(f.first_doc = i.doc_id)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_rate
        FROM items i JOIN first_seen f ON i.code = f.code
        GROUP BY i.doc_id
        ORDER BY i.doc_id
    """,
    doc="Ingest-order content novelty — per document, the share of its "
    "shingles whose FIRST appearance (minimum doc_id, the ingest "
    "order) is this document. The streaming-corpus curation signal "
    "('is this crawl batch adding anything new?') and the per-doc "
    "complement of the corpus-level boilerplate share (#51): a late "
    "near-duplicate scores ~0, fresh content ~1, and a monotone "
    "corpus-growth curve falls out of averaging by doc_id range. "
    "Reuses the ONE shared shingle scan every dedup query uses; "
    "first-seen is a min-aggregate over shingle codes, joined back by "
    "code (Zipf-hot boilerplate shingles = the standard AQE skew-join "
    "shape). At ingest time the same first-seen table is maintained "
    "incrementally (the dedup_incremental asymmetric pattern).",
    tags=("llm", "dedup"),
)
def doc_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _doc_shingle_items(spark, sf_dir)
    first_seen = items.groupBy("code").agg(
        F.min("doc_id").alias("first_doc")
    )
    novel = F.count_if(F.col("first_doc") == F.col("doc_id"))
    return (
        items.join(first_seen, "code")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.alias("n_novel"),
            F.round(
                novel / F.count(F.lit(1)).cast("double"), 6
            ).alias("novelty_rate"),
        )
        .orderBy("doc_id")
    )


# --- minhash containment join (asymmetric, size-aware) -----------------------
#
# Jaccard is symmetric, so near-CONTAINMENT pairs (a quote inside a
# long article; a doc inside its superset crawl twin) score low and
# slip past dedup_minhash_lsh. From the SAME signatures and the exact
# set sizes, the intersection estimate I = m*(n_a+n_b)/(N+m) (solve
# J = m/N = I/(n_a+n_b-I)) gives the asymmetric containment I/min(n)
# without any new corpus pass — the sketch-level counterpart of the
# exact dedup_containment (#96).

_CONT_MIN_MATCHES = 6  # integer candidate floor (est J >= 6/32)
_CONT_THRESHOLD = 0.5  # on est containment of the smaller set

_CONT_SIZES_SQL = f"""
    SELECT doc_id, CAST(len(sh) AS BIGINT) AS n
    FROM ({_SHINGLES_SQL}) WHERE len(sh) > 0
"""


@register(
    "minhash_containment_join",
    oracle=f"""
        -- sig + sizes hoisted as MATERIALIZED so DuckDB runs the
        -- shingle/signature pipeline ONCE (not re-inlined per branch;
        -- the percolation-oracle lesson, ADVICE r7)
        WITH sig AS MATERIALIZED ({_SIG_SQL}),
        sizes AS MATERIALIZED ({_CONT_SIZES_SQL}),
        cand AS ({MH.candidate_pairs_from_sig_cte_sql("doc_id", N_HASHES, BANDS)}),
        sized AS (
            SELECT c.id_a, c.id_b,
                   ({MH.sig_match_count_sql(N_HASHES)}) AS m,
                   za.n AS n_a, zb.n AS n_b
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b
            JOIN sizes za ON za.doc_id = c.id_a
            JOIN sizes zb ON zb.doc_id = c.id_b
        )
        SELECT id_a AS doc_a, id_b AS doc_b, n_a, n_b,
               CAST(m AS BIGINT) AS matches,
               ROUND(m / {N_HASHES}.0, 6) AS est_jaccard,
               ROUND(1.0 * m * (n_a + n_b)
                     / (({N_HASHES} + m) * LEAST(n_a, n_b)), 6)
                   AS est_containment,
               CASE WHEN n_a <= n_b THEN 'a_in_b' ELSE 'b_in_a' END
                   AS direction
        FROM sized
        WHERE m >= {_CONT_MIN_MATCHES}
          AND 1.0 * m * (n_a + n_b)
              / (({N_HASHES} + m) * LEAST(n_a, n_b)) >= {_CONT_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    doc="MinHash containment join: near-containment pairs from the "
    "SAME banded signatures as dedup_minhash_lsh plus exact shingle-"
    "set sizes — est intersection I = m(n_a+n_b)/(N+m), containment "
    "= I / min(n), reported with its direction. Catches the subset/"
    "superset duplicates symmetric Jaccard misses (Broder 1997's "
    "containment, sketch-level; exact twin is #96). Only signatures "
    "and two int sizes shuffle; the filter is an integer match floor "
    "plus one deterministic single-shot float compare. Scale shape "
    "identical to the LSH family: band-bucket-bounded.",
    tags=("dedup", "llm"),
)
def minhash_containment_join(
    spark: SparkSession, sf_dir: str, df_cap: int | None = None
) -> DataFrame:
    """`df_cap` (VERDICT r8 #3) caps the posting-list length of the
    join key — here the (band, bucket-hash) bucket: buckets holding
    more than df_cap signatures are skipped, bounding per-bucket pair
    output at df_cap^2 (the standard LSH hot-bucket skip; a
    boilerplate cluster lands its members in the same bucket in EVERY
    band, so the cluster's pair volume is bands * cluster^2 without
    the cap). Signatures and sizes are untouched, so surviving pairs
    score identically; df_cap=None (the registered query) is
    plan-identical to the uncapped join, and capped == uncapped when
    no bucket exceeds the cap (tests/test_df_cap.py)."""
    sh = _doc_shingles(spark, sf_dir).where(F.size("sh") > 0)
    sigs = sh.select(
        "doc_id",
        F.size("sh").cast("long").alias("n"),
        MH.signature_array_col("sh", _PARAMS).alias("sg"),
    )
    buckets = MH.bucket_rows_from_sig_df(sigs, N_HASHES, BANDS)
    if df_cap is not None:
        keep = (
            buckets.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= df_cap)
            .select("band", "bh")
        )
        buckets = buckets.join(keep, ["band", "bh"], "left_semi")
    a, b = buckets.alias("a"), buckets.alias("b")
    m = MH.sig_match_count_col(F.col("a.sg"), F.col("b.sg"))
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            m.alias("m"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.first("m").alias("m"),
        )
    )
    contain = (
        1.0
        * F.col("m")
        * (F.col("n_a") + F.col("n_b"))
        / ((N_HASHES + F.col("m")) * F.least("n_a", "n_b"))
    )
    return (
        pairs.where(
            (F.col("m") >= _CONT_MIN_MATCHES)
            & (contain >= _CONT_THRESHOLD)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.col("m").cast("long").alias("matches"),
            F.round(F.col("m") / float(N_HASHES), 6).alias("est_jaccard"),
            F.round(contain, 6).alias("est_containment"),
            F.when(F.col("n_a") <= F.col("n_b"), "a_in_b")
            .otherwise("b_in_a")
            .alias("direction"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- similarity-graph percolation profile ------------------------------------

_PERC_TAUS = (0.35, 0.5, 0.65)


def _perc_sql() -> str:
    """Component summaries per threshold off ONE materialized
    signature/candidate pipeline (inlining it per branch cost the
    oracle ~9 signature recomputes, 122 s at sf0.01 -> ~14 s)."""
    branches = []
    for i, tau in enumerate(_PERC_TAUS):
        branches.append(f"""
        pairs{i} AS (
            SELECT id_a AS a, id_b AS b FROM scored WHERE est >= {tau}
        ),
        edges{i} AS (
            SELECT a, b FROM pairs{i}
            UNION ALL SELECT b AS a, a AS b FROM pairs{i}
        ),
        reach{i} AS (
            SELECT DISTINCT a AS doc, a AS comp FROM edges{i}
            UNION
            SELECT e.b AS doc, r.comp
            FROM reach{i} r JOIN edges{i} e ON e.a = r.doc
        ),
        comps{i} AS (
            SELECT doc, MIN(comp) AS comp FROM reach{i} GROUP BY doc
        ),
        summary{i} AS (
            SELECT CAST({tau} AS DOUBLE) AS tau,
                   CAST((SELECT COUNT(*) FROM comps{i}) AS BIGINT)
                       AS n_nodes,
                   CAST((SELECT COUNT(*) FROM pairs{i}) AS BIGINT)
                       AS n_edges,
                   CAST((SELECT COUNT(DISTINCT comp) FROM comps{i})
                        AS BIGINT) AS n_components,
                   CAST(COALESCE((SELECT MAX(sz) FROM (
                       SELECT COUNT(*) AS sz FROM comps{i} GROUP BY comp)),
                       0) AS BIGINT) AS max_component
        )""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM summary{i}" for i in range(len(_PERC_TAUS))
    )
    return f"""
        WITH RECURSIVE
        sig AS MATERIALIZED ({_SIG_SQL}),
        buckets AS MATERIALIZED ({MH.bucket_rows_sql("doc_id", N_HASHES, BANDS)}),
        scored AS MATERIALIZED (
            SELECT c.id_a, c.id_b,
                   {MH.est_similarity_sql(N_HASHES)} AS est
            FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM buckets a
                  JOIN buckets b ON a.band = b.band AND a.bh = b.bh
                       AND a.doc_id < b.doc_id) c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b
        ),
        {",".join(branches)}
        {unions} ORDER BY tau
    """


@register(
    "percolation_components",
    oracle=_perc_sql(),
    doc="Percolation profile of the near-dup similarity graph: at "
    f"each threshold tau in {_PERC_TAUS}, the MinHash pair graph's "
    "node/edge counts, connected-component count, and largest "
    "component — how dedup clusters coalesce as the similarity bar "
    "drops (the percolation curve dedup-threshold tuning reads: a "
    "max-component explosion at low tau means over-merging). est_sim "
    "= m/32 is an exact dyadic, so threshold compares are engine-"
    "exact. Spark: ONE banded pair scan, the 3 threshold graphs fold "
    "into a single disjoint union (node id = tau_idx * 2^40 + doc) "
    "and ONE min-label-propagation run resolves all levels; oracle: "
    "recursive-CTE closures.",
    tags=("dedup", "llm"),
)
def percolation_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs_all = (
        MH.scored_candidate_pairs_from_array_sig_df(
            _doc_array_sigs(spark, sf_dir), "doc_id", N_HASHES, BANDS
        )
        .where(F.col("est_sim") >= min(_PERC_TAUS))
        .localCheckpoint(eager=True)
    )
    lvl = F.lit(2**40)
    # disjoint union across thresholds: level i's copy of the graph
    # lives in id-space [i*2^40, (i+1)*2^40) — components cannot cross
    # levels, so ONE label-propagation run resolves every threshold
    # (interleaved A/B at sf0.01: 3 separate CC runs 126 s -> folded
    # run far less; per-round fixed costs dominate at small SF).
    pairs3 = None
    for i, tau in enumerate(_PERC_TAUS):
        p = pairs_all.where(F.col("est_sim") >= tau).select(
            F.lit(i).alias("tau_idx"),
            (F.lit(i) * lvl + F.col("id_a")).alias("id_a"),
            (F.lit(i) * lvl + F.col("id_b")).alias("id_b"),
        )
        pairs3 = p if pairs3 is None else pairs3.unionByName(p)
    edges = pairs3.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).union(
        pairs3.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    nodes = edges.select(F.col("a").alias("doc")).distinct()
    comps = cluster_components(nodes, edges)
    sizes = comps.groupBy(
        (F.col("comp") / lvl).cast("int").alias("tau_idx"), "comp"
    ).agg(F.count(F.lit(1)).alias("sz"))
    edge_counts = pairs3.groupBy("tau_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    taus = F.array(*[F.lit(float(t)) for t in _PERC_TAUS])
    grid = spark.range(len(_PERC_TAUS)).select(
        F.col("id").cast("int").alias("tau_idx"),
        F.element_at(taus, F.col("id").cast("int") + 1).alias("tau"),
    )
    summary = sizes.groupBy("tau_idx").agg(
        F.sum("sz").cast("long").alias("n_nodes"),
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.max("sz").cast("long").alias("max_component"),
    )
    return (
        grid.join(F.broadcast(summary), "tau_idx", "left")
        .join(F.broadcast(edge_counts), "tau_idx", "left")
        .select(
            "tau",
            F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("n_components", F.lit(0)).alias("n_components"),
            F.coalesce("max_component", F.lit(0)).alias("max_component"),
        )
        .orderBy("tau")
    )
