"""Training-export shapes (SURVEY §2f #52-54, #57): deterministic
shard manifests, SemDeDup-style semantic dedup, and the composed
end-to-end curation pipeline.

- `shard_manifest`: the step between a curated corpus and training —
  assign every document to one of N output shards and a position
  inside it, as a pure function of the stable id (portable md5 code,
  `hashing.str_code_col`). Hash-ordering inside the shard doubles as
  a deterministic global shuffle of the training order: no RNG state,
  reproducible across runs, engines, and cluster sizes.
- `semantic_dedup`: embedding-space near-duplicate pruning following
  the SemDeDup recipe (Abbas et al., 2023, arXiv:2303.09540): K-means
  partitions the space, then candidate pairs are compared ONLY within
  a cluster, so the quadratic term is bounded per cluster instead of
  global. Reuses the engine's deterministic `kmeans_fit` and
  Arrow-batched cosine scoring from `operators/ann.py`.
- `training_corpus_manifest`: quality gate -> exact dedup -> split ->
  shard, chained from the other modules' own definitions — the whole
  curation pipeline as ONE declarative plan Catalyst optimizes
  end-to-end, hash-checked against an equally-composed DuckDB oracle.

Scale shape:
- shard_manifest is one shuffle on shard_id (the window); position
  assignment is per-partition. At 100 TB the write side would follow
  with `partitionBy(shard_id)` — `streaming/sources.partitioned_write`
  already demonstrates that surface.
- semantic_dedup's pair join is an equi-join on cluster id; per-
  cluster volume is n_c^2, so k must grow with the corpus (SemDeDup
  uses k in the tens of thousands at web scale) — k here is small only
  so the tiny test fixture keeps multi-member clusters. The kept set
  is within-cluster tau-independent, matching the paper's policy of
  keeping one point per epsilon-ball.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.operators.ann import _cos_fold_udf, _cos_udf, _dot_sql
from mvrs_dspa_spark.operators.clustering import (
    assign_clusters,
    assign_clusters_exact,
    kmeans_exact_ctes,
    kmeans_fit,
    kmeans_fit_exact,
)
from mvrs_dspa_spark.operators.clustering import (
    _kmeans_idist_sql as _sem_idist_sql,
)
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

N_SHARDS = 8
SHARD_SALT = "shard-v1"

SEM_K = 8  # pinned k for the registered gate query only
SEM_ITERS = 8
SEM_TAU = 0.4  # same threshold as embedding_near_dup's oracle baseline
# Expected vectors per cluster the within-cluster pair join is sized
# for: SemDeDup's k must grow ~n/target (the paper uses k in the tens
# of thousands at web scale) so per-cluster pair volume stays bounded.
SEM_TARGET_CLUSTER_SIZE = 64


def sem_k_for(n_rows: int) -> int:
    """Cluster count so expected cluster size stays ~target.

    Keeps total within-cluster candidate pairs ~linear in n
    (n/target clusters x target^2 pairs) instead of n^2/k for a
    fixed k."""
    return max(2, -(-n_rows // SEM_TARGET_CLUSTER_SIZE))


@register(
    "shard_manifest",
    oracle=f"""
        SELECT doc_id, shard_id, pos
        FROM (
            SELECT doc_id,
                   code % {N_SHARDS} AS shard_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY code % {N_SHARDS}
                       ORDER BY code, doc_id
                   ) - 1 AS pos
            FROM (
                SELECT doc_id,
                       {H.str_code_sql(f"'{SHARD_SALT}:' || doc_id::VARCHAR")}
                           AS code
                FROM documents
            )
        )
        ORDER BY shard_id, pos
    """,
    doc="Deterministic shard manifest: salted-hash shard assignment + "
    "hash-ordered position within the shard (a reproducible global "
    "shuffle of the training order, no RNG state).",
    tags=("sampling", "export"),
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    code = H.str_code_col(
        F.concat(F.lit(SHARD_SALT + ":"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("shard_id").orderBy("code", "doc_id")
    return (
        docs.select("doc_id", code.alias("code"), (code % N_SHARDS).alias("shard_id"))
        .select(
            "doc_id",
            "shard_id",
            (F.row_number().over(w) - 1).cast("long").alias("pos"),
        )
        .orderBy("shard_id", "pos")
    )


def _manifest_oracle() -> str:
    from mvrs_dspa_spark.operators.sampling import SPLIT_SALT
    from mvrs_dspa_spark.operators.text_analysis import (
        _QUALITY_CTES,
        _QUALITY_SCORE_SQL,
        QUALITY_DROP_FRAC,
    )

    split_code = H.str_code_sql(f"'{SPLIT_SALT}:' || (doc_id)::VARCHAR")
    shard_code = H.str_code_sql(f"'{SHARD_SALT}:' || (doc_id)::VARCHAR")
    return f"""
        WITH {_QUALITY_CTES},
        s AS (
            SELECT doc_id, lang, n_tokens,
                   {_QUALITY_SCORE_SQL} AS q
            FROM m
        ),
        kept AS (
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang, PERCENT_RANK() OVER (
                    PARTITION BY lang ORDER BY q, doc_id) AS qr
                FROM s
            ) WHERE qr >= {QUALITY_DROP_FRAC}
        ),
        norm AS (
            SELECT d.doc_id,
                   regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g') AS nt
            FROM documents d JOIN kept k ON k.doc_id = d.doc_id
        ),
        canon AS (
            SELECT doc_id FROM (
                SELECT doc_id, MIN(doc_id) OVER (PARTITION BY nt) AS c FROM norm
            ) WHERE doc_id = c
        ),
        assigned AS (
            SELECT doc_id, lang,
                   CASE WHEN ({split_code}) % 100 < 80 THEN 'train'
                        WHEN ({split_code}) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   ({shard_code}) % {N_SHARDS} AS shard_id,
                   {shard_code} AS sc
            FROM (SELECT k.doc_id AS doc_id, k.lang
                  FROM kept k JOIN canon c ON c.doc_id = k.doc_id)
        )
        SELECT doc_id, lang, split, shard_id,
               ROW_NUMBER() OVER (
                   PARTITION BY split, shard_id ORDER BY sc, doc_id
               ) - 1 AS pos
        FROM assigned
        ORDER BY doc_id
    """


@register(
    "training_corpus_manifest",
    oracle=_manifest_oracle(),
    doc="Composed curation pipeline: per-language quality gate -> "
    "exact-dedup canonical keep -> deterministic 80/10/10 split -> "
    "hash-sharded manifest. Every stage reuses an oracle-verified "
    "operator's definition, so the composition is itself hash-checked "
    "end to end.",
    tags=("sampling", "export", "llm"),
)
def training_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline composed from the engine's own
    oracle-verified stages — the query a user runs to turn a raw
    document table into a training manifest:

    quality gate (drop bottom 20% per language by the published
    quality_score) -> exact dedup (keep canonical docs only) ->
    deterministic 80/10/10 split -> hash-sharded, hash-ordered
    positions per (split, shard).

    Every stage is a pure function of the data (salted md5 codes, no
    RNG), so the manifest is reproducible across runs, engines, and
    cluster sizes. One documents scan feeds the quality+split+shard
    columns; dedup joins the normalized text back on doc_id.
    """
    from mvrs_dspa_spark.operators.sampling import SPLIT_SALT, _code
    from mvrs_dspa_spark.operators.text_analysis import (
        QUALITY_DROP_FRAC,
        _quality_metrics,
        _quality_score_col,
    )

    docs = table(spark, sf_dir, "documents")
    s = _quality_metrics(docs).select(
        "doc_id", "lang", "n_tokens", "_sr", "_ar"
    ).select("doc_id", "lang", _quality_score_col().alias("q"))
    wq = Window.partitionBy("lang").orderBy("q", "doc_id")
    # the quality-gate survivor list feeds both the dedup join and the
    # final assignment — materialized once, the CPU-bound quality
    # metrics pass runs once instead of twice (documents scans
    # 3 -> 2: quality pass + normalized-text pass) (r11)
    kept = (
        s.withColumn("qr", F.percent_rank().over(wq))
        .where(F.col("qr") >= QUALITY_DROP_FRAC)
        .select("doc_id", "lang")
        .localCheckpoint(eager=False)
    )
    norm = docs.join(kept.select("doc_id"), "doc_id").select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim("text")), "\\s+", " ").alias("nt"),
    )
    wn = Window.partitionBy("nt")
    canon = (
        norm.withColumn("c", F.min("doc_id").over(wn))
        .where(F.col("doc_id") == F.col("c"))
        .select("doc_id")
    )
    split_bucket = _code(F.col("doc_id"), SPLIT_SALT) % 100
    shard_code = H.str_code_col(
        F.concat(F.lit(SHARD_SALT + ":"), F.col("doc_id").cast("string"))
    )
    assigned = kept.join(canon, "doc_id").select(
        "doc_id",
        "lang",
        F.when(split_bucket < 80, "train")
        .when(split_bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        (shard_code % N_SHARDS).alias("shard_id"),
        shard_code.alias("sc"),
    )
    wp = Window.partitionBy("split", "shard_id").orderBy("sc", "doc_id")
    return (
        assigned.select(
            "doc_id",
            "lang",
            "split",
            "shard_id",
            (F.row_number().over(wp) - 1).cast("long").alias("pos"),
        )
        .orderBy("doc_id")
    )


def _semantic_dedup_oracle() -> str:
    """Exact-grid mirror: unrolled Lloyd (k=SEM_K) -> within-cluster
    lower-id tau-ball drop with the fold-order cosine."""
    idist = _sem_idist_sql(64)
    parts = kmeans_exact_ctes(SEM_K, SEM_ITERS, 64)
    parts.append(
        f"""asn AS MATERIALIZED (
            SELECT vec_id, CAST(MIN(dkey) % {SEM_K} AS INTEGER) AS cluster
            FROM (SELECT q.vec_id, {idist} * {SEM_K} + c.c AS dkey
                  FROM q q CROSS JOIN c{SEM_ITERS} c)
            GROUP BY vec_id
        )"""
    )
    parts.append(
        f"""vn AS MATERIALIZED (
            SELECT e.vec_id, e.embedding,
                   sqrt({_dot_sql("e.embedding", "e.embedding")}) AS nrm
            FROM embeddings e
        )"""
    )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes},
        dropped AS (
            SELECT DISTINCT a.vec_id
            FROM asn a
            JOIN asn b ON a.cluster = b.cluster AND a.vec_id > b.vec_id
            JOIN vn va ON va.vec_id = a.vec_id
            JOIN vn vb ON vb.vec_id = b.vec_id
            WHERE {_dot_sql("va.embedding", "vb.embedding")}
                  / (va.nrm * vb.nrm) >= {SEM_TAU}
        )
        SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS keep
        FROM asn a LEFT JOIN dropped d ON d.vec_id = a.vec_id
        ORDER BY a.vec_id
    """


@register(
    "semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    doc="SemDeDup-style semantic dedup (arXiv:2303.09540): K-means "
    "partitions the embedding space; within each cluster a vector is "
    "dropped when a lower-id vector with cosine >= tau exists. Kept "
    "set is within-cluster tau-independent; pair comparisons bounded "
    "per cluster, never global. r11 rows->oracle conversion: the "
    "registered gate runs the exact integer-grid Lloyd and scores "
    "pairs with the fold-order cosine against the RAW tau threshold, "
    "so clusters and the kept set value-hash-match the unrolled "
    "DuckDB oracle (the scale path keeps the float fit via "
    "exact=False).",
    tags=("ann", "dedup", "llm"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the registered gate pins k=SEM_K so the tiny fixture keeps
    # multi-member clusters and stays deterministic round-over-round
    return semantic_dedup_op(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        k=SEM_K,
        exact=True,
    )


def semantic_dedup_op(
    emb: DataFrame,
    k: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """SemDeDup over any (id, vector) frame.

    k=None derives the cluster count from the actual corpus size via
    `sem_k_for`, the paper's k ~ n scaling; pass an explicit k only
    for pinned deterministic gates. exact=True (the registered gate)
    swaps in the integer-grid Lloyd + fold-order cosine so the result
    is oracle-reproducible; the default keeps the float fit + BLAS
    cosine for the unpinned scale path.
    """
    if k is None:
        k = sem_k_for(emb.count())
    if exact:
        cents_i = kmeans_fit_exact(
            emb, "embedding", k=k, iters=SEM_ITERS, id_col="vec_id"
        )
        if not cents_i:
            return emb.sparkSession.createDataFrame(
                [], "vec_id long, cluster int, keep boolean"
            )
        assigned = assign_clusters_exact(emb, "embedding", cents_i).select(
            "vec_id", "embedding", "cluster"
        )
    else:
        centroids = kmeans_fit(
            emb, "embedding", k=k, iters=SEM_ITERS, id_col="vec_id"
        )
        if not centroids:  # empty slice in -> empty result out
            return emb.sparkSession.createDataFrame(
                [], "vec_id long, cluster int, keep boolean"
            )
        assigned = assign_clusters(emb, "embedding", centroids).select(
            "vec_id", "embedding", "cluster"
        )
    a, b = assigned.alias("a"), assigned.alias("b")
    # pair cosine via Arrow-batched numpy; the exact gate uses the
    # dimension-ordered fold so the tau comparison is bit-identical to
    # the oracle, the scale path keeps the BLAS matmul
    cos_udf = _cos_fold_udf() if exact else _cos_udf()
    cos = cos_udf(F.col("a.embedding"), F.col("b.embedding"))
    # v is dropped when ANY lower-id same-cluster vector is >= tau close
    # (the earlier vector itself may also be dropped — chains collapse
    # toward their lowest id, exactly the paper's keep-one-per-ball).
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
            "inner",
        )
        .where(cos >= SEM_TAU)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("keep", F.lit(False))
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(dropped, "vec_id", "left")
        .select("vec_id", "cluster", F.coalesce("keep", F.lit(True)).alias("keep"))
        .orderBy("vec_id")
    )


from mvrs_dspa_spark.operators.text_analysis import (  # noqa: E402
    _QUALITY_CTES,
    _QUALITY_SCORE_SQL,
    QUALITY_DROP_FRAC,
)


@register(
    "corpus_mixture_report",
    oracle=f"""
        WITH {_QUALITY_CTES},
        s AS (
            SELECT m.doc_id, m.lang, d.source,
                   {_QUALITY_SCORE_SQL} AS q
            FROM m JOIN documents d USING (doc_id)
        ),
        gated AS (
            SELECT doc_id, lang, source,
                   PERCENT_RANK() OVER (
                       PARTITION BY lang ORDER BY q, doc_id
                   ) >= {QUALITY_DROP_FRAC} AS kept
            FROM s
        ),
        cells AS (
            SELECT lang, source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(CASE WHEN kept THEN 1 END) AS BIGINT)
                       AS n_kept
            FROM gated GROUP BY lang, source
        )
        SELECT lang, source, n_docs, n_kept,
               ROUND(1.0 * n_docs
                     / SUM(n_docs) OVER (), 6) AS share_before,
               ROUND(1.0 * n_kept
                     / SUM(n_kept) OVER (), 6) AS share_after
        FROM cells
        ORDER BY lang, source
    """,
    doc="Corpus mixture report: per (lang, source) document counts and "
    "corpus shares BEFORE and AFTER the registered per-language "
    "quality gate — the drift check a pipeline owner reads before "
    "shipping a filtered corpus (a gate that silently reweights "
    "sources is a training-distribution change, not just a cleanup). "
    "Composes the published quality-score + percentile-gate "
    "definitions on both engines; normalizers are analytic sums over "
    "the bounded (lang, source) cells.",
    tags=("export", "llm"),
)
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from mvrs_dspa_spark.operators.text_analysis import (
        QUALITY_DROP_FRAC as DROP,
    )
    from mvrs_dspa_spark.operators.text_analysis import (
        _quality_metrics,
        _quality_score_col,
    )

    docs = table(spark, sf_dir, "documents")
    s = (
        _quality_metrics(docs)
        .withColumn("q", _quality_score_col())
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    gate_w = Window.partitionBy("lang").orderBy("q", "doc_id")
    gated = s.select(
        "lang",
        "source",
        (F.percent_rank().over(gate_w) >= DROP).alias("kept"),
    )
    cells = gated.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
    )
    all_w = Window.partitionBy()
    return (
        cells.select(
            "lang",
            "source",
            "n_docs",
            "n_kept",
            F.round(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(all_w), 6
            ).alias("share_before"),
            F.round(
                F.col("n_kept").cast("double") / F.sum("n_kept").over(all_w), 6
            ).alias("share_after"),
        )
        .orderBy("lang", "source")
    )


# --- curriculum manifest ----------------------------------------------------

CURRICULUM_PHASES = 4
CURRICULUM_QS = (0.25, 0.5, 0.75)


def _curriculum_oracle() -> str:
    from mvrs_dspa_spark.operators.text_analysis import (
        _QUALITY_CTES,
        _QUALITY_SCORE_SQL,
    )

    shard_code = H.str_code_sql(f"'{SHARD_SALT}:' || (doc_id)::VARCHAR")
    return f"""
        WITH {_QUALITY_CTES},
        s AS (
            SELECT doc_id, {_QUALITY_SCORE_SQL} AS quality_score
            FROM m
        ),
        edges AS (
            SELECT quantile_cont(quality_score,
                [{", ".join(map(str, CURRICULUM_QS))}]) AS e
            FROM s
        )
        SELECT doc_id, quality_score, phase, shard_id,
               ROW_NUMBER() OVER (
                   PARTITION BY phase, shard_id ORDER BY code, doc_id
               ) - 1 AS pos
        FROM (
            SELECT s.doc_id, s.quality_score,
                   CAST({CURRICULUM_PHASES}
                        - ((s.quality_score > e[1])::INT
                           + (s.quality_score > e[2])::INT
                           + (s.quality_score > e[3])::INT) AS INT) AS phase,
                   {shard_code} AS code,
                   {shard_code} % {N_SHARDS} AS shard_id
            FROM s, edges
        )
        ORDER BY phase, shard_id, pos
    """


@register(
    "curriculum_manifest",
    oracle=_curriculum_oracle(),
    doc="Curriculum training manifest (quality-staged ordering, cf. "
    "curriculum-learning practice of clean-first pretraining): docs "
    "bucketed into 4 phases by quality-score quartile EDGES (1-row "
    "broadcast from the shared cross-engine percentile machinery — "
    "no global sort), then salted-hash sharded with a deterministic "
    "position within (phase, shard) exactly like shard_manifest. A "
    "trainer streams phase 1 (cleanest quartile) first and descends. "
    "Shares the quality-score definition with doc_quality/the "
    "curation gate, so 'clean' means the same thing in every stage "
    "of the pipeline.",
    tags=("sampling", "export", "llm"),
)
def curriculum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.operators.text_analysis import (
        _quality_metrics,
        _quality_score_col,
    )

    scored = _quality_metrics(table(spark, sf_dir, "documents")).select(
        "doc_id", _quality_score_col().alias("quality_score")
    )
    qs = F.array(*[F.lit(q) for q in CURRICULUM_QS])
    edges = scored.agg(F.percentile("quality_score", qs).alias("e"))
    above = sum(
        (F.col("quality_score") > F.element_at("e", i + 1)).cast("int")
        for i in range(len(CURRICULUM_QS))
    )
    code = H.str_code_col(
        F.concat(F.lit(SHARD_SALT + ":"), F.col("doc_id").cast("string"))
    )
    staged = (
        scored.crossJoin(F.broadcast(edges))
        .select(
            "doc_id",
            "quality_score",
            (F.lit(CURRICULUM_PHASES) - above).cast("int").alias("phase"),
            code.alias("code"),
            (code % N_SHARDS).alias("shard_id"),
        )
    )
    w = Window.partitionBy("phase", "shard_id").orderBy("code", "doc_id")
    return (
        staged.select(
            "doc_id",
            "quality_score",
            "phase",
            "shard_id",
            (F.row_number().over(w) - 1).cast("long").alias("pos"),
        )
        .orderBy("phase", "shard_id", "pos")
    )


# --- token-budget corpus selection --------------------------------------------

BUDGET_FRAC_NUM, BUDGET_FRAC_DEN = 1, 2  # keep best docs up to 1/2 of tokens


def _budget_ctes() -> str:
    from mvrs_dspa_spark.operators.text_analysis import (
        _QUALITY_CTES,
        _QUALITY_SCORE_SQL,
    )

    return f"""
        {_QUALITY_CTES},
        scored AS (
            SELECT doc_id, n_tokens, {_QUALITY_SCORE_SQL} AS q
            FROM m
        ),
        ranked AS (
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, q,
                   ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rank,
                   SUM(CAST(n_tokens AS BIGINT)) OVER (
                       ORDER BY q DESC, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens,
                   SUM(CAST(n_tokens AS BIGINT)) OVER () AS total_tokens
            FROM scored
        )
    """


@register(
    "token_budget_selection",
    oracle=f"""
        WITH {{}}
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens,
               q AS quality_score,
               cum_tokens * {BUDGET_FRAC_DEN}
                   <= total_tokens * {BUDGET_FRAC_NUM} AS selected
        FROM ranked
        ORDER BY rank
    """.format(_budget_ctes().lstrip()),
    doc="Token-budget corpus selection: rank every document by the "
    "published quality score (rounded, doc_id tiebreak — the house "
    "rank rule) and greedily keep the best until the cumulative "
    f"token count reaches {BUDGET_FRAC_NUM}/{BUDGET_FRAC_DEN} of the "
    "corpus — the budget-constrained selection every pretraining "
    "data team runs once the compute budget fixes the token count "
    "(the knapsack-greedy companion to the per-language percentile "
    "gate #53 and the quota cap #44). The budget test cross-"
    "multiplies exact int64 token sums (no float fraction). Global "
    "rank is a single total order on the bounded (score, id) pair — "
    "same NTILE/10aj posture: acceptable because documents-table "
    "cardinality, not token volume, drives it; at extreme scale the "
    "order swaps to a two-phase range-partitioned rank.",
    tags=("sampling", "llm"),
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.operators.text_analysis import (
        _quality_metrics,
        _quality_score_col,
    )

    docs = table(spark, sf_dir, "documents")
    scored = _quality_metrics(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _quality_score_col().alias("q"),
    )
    wr = Window.orderBy(F.desc("q"), "doc_id")
    wcum = wr.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    ranked = scored.select(
        "doc_id",
        "n_tokens",
        "q",
        F.row_number().over(wr).alias("rank"),
        F.sum("n_tokens").over(wcum).alias("cum_tokens"),
        F.sum("n_tokens").over(wall).alias("total_tokens"),
    )
    return (
        ranked.select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "n_tokens",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            F.col("q").alias("quality_score"),
            (
                F.col("cum_tokens") * BUDGET_FRAC_DEN
                <= F.col("total_tokens") * BUDGET_FRAC_NUM
            ).alias("selected"),
        )
        .orderBy("rank")
    )
