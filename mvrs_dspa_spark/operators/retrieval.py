"""Text retrieval operators over the `documents` table (SURVEY §2f).

A training-data pipeline needs lexical retrieval twice: BM25 scoring
to pull benchmark-adjacent documents for decontamination-by-retrieval
(the complement of the 8-gram exact pass in decontam.py), and tf-idf
keyword extraction for corpus inspection / topic tagging. Both are
classic inverted-index computations re-expressed as DataFrame plans:
tokenize → explode → aggregate postings; no index structure is
materialized because the postings "index" IS the intermediate
(doc, term, tf) relation.

Scale posture (100 TB): one scan of `documents` feeds both the tf and
df aggregates; document-frequency tables are vocabulary-sized (≪ data,
Zipf-headed), so the tf⋈df join is a vocabulary join — AQE's skew-join
split handles the stopword head, and the only forced broadcast is the
1-row corpus-stats scalar. BM25 additionally filters tokens to the
query terms BEFORE the explode, so the exploded relation is bounded by
|docs| × |query| rows, not corpus token count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

# Okapi BM25 constants (Robertson & Zaragoza 2009, the standard
# defaults used by Lucene/Elasticsearch).
BM25_K1 = 1.2
BM25_B = 0.75

# Pinned query for the registered gate (mid-frequency vocabulary terms
# in the synthetic corpus); the operator itself takes any term list.
GATE_QUERY_TERMS = ("spark", "stream", "merge", "vector")

TOP_N = 20


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-N over whitespace tokens (lowercased).

    Plan: scan → per-doc length, filter tokens to the query terms
    BEFORE exploding (bounded explode) → tf per (doc, term) → df per
    term (|terms| rows, broadcast) → score → global top-N. Ordering is
    on the ROUNDED score with doc_id tiebreak so the selected set is
    engine-deterministic.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens_col(F.lower(F.col("text"))).alias("toks")
    )
    dl = docs.select("doc_id", "toks", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    term_arr = F.array(*[F.lit(t) for t in GATE_QUERY_TERMS])
    # the bounded posting relation (<= |terms| rows per doc) feeds the
    # df rollup and the scoring join inside bm25_from_postings —
    # materialized once, the corpus tokenize runs twice (stats needs
    # every doc's length, postings only matched docs), not 3x (r11;
    # the streaming maintainer hands the tail its own kept postings)
    tf = (
        dl.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter(F.col("toks"), lambda t: F.array_contains(term_arr, t))
            ).alias("tok"),
        )
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    return bm25_from_postings(tf, stats, TOP_N)


def bm25_from_postings(
    tf: DataFrame, stats: DataFrame, top_n: int = TOP_N
) -> DataFrame:
    """Scoring tail shared by the batch query and the streaming index
    maintainer (streaming/bm25_stream.Bm25IndexMaintainer): a
    (doc_id, dl, tok, tf) posting relation plus a 1-row
    (n_docs, avgdl) stats frame -> the ranked top-N. Pure code motion
    from the batch plan, so both callers score identically."""
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # df has ≤ |terms| rows (constant in the data size): broadcast is
    # structurally bounded, not a scale hazard.
    scored = tf.join(F.broadcast(df), "tok").crossJoin(F.broadcast(stats))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(F.sum(idf * tf_part), 4).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(top_n)
    )


_TERMS_IN = ", ".join(f"'{t}'" for t in GATE_QUERY_TERMS)


@register(
    "bm25_search",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {T.tokens_sql('lower(text)')} AS toks
            FROM documents
        ),
        dl AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
        stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
        tf AS (
            SELECT doc_id, dl, tok, COUNT(*) AS tf
            FROM (
                SELECT doc_id, dl,
                       unnest(list_filter(toks, t -> t IN ({_TERMS_IN}))) AS tok
                FROM dl
            )
            GROUP BY doc_id, dl, tok
        ),
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
               ROUND(SUM(
                   ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl))
               ), 4) AS bm25
        FROM tf JOIN df USING (tok) CROSS JOIN stats s
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {TOP_N}
    """,
    doc="Okapi BM25 top-20 for a pinned query (k1=1.2, b=0.75): "
    "filter-before-explode bounded postings, vocabulary-sized df "
    "broadcast, 1-row stats broadcast. Retrieval complement of the "
    "exact 8-gram decontamination pass.",
    tags=("text", "retrieval", "llm"),
)
def bm25_search_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_search(spark, sf_dir)


TFIDF_TOP_K = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {T.tokens_sql('lower(text)')} AS toks
            FROM documents
        ),
        stats AS (SELECT COUNT(*) AS n_docs FROM d),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
            GROUP BY doc_id, tok
        ),
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        w AS (
            SELECT doc_id, tok,
                   CAST(tf AS BIGINT) AS tf,
                   ROUND(tf * ln(1.0 * s.n_docs / df.df), 6) AS tfidf
            FROM tf JOIN df USING (tok) CROSS JOIN stats s
        )
        SELECT doc_id, tok AS term, tf, tfidf,
               CAST(rnk AS INTEGER) AS rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, tok
            ) AS rnk
            FROM w
        )
        WHERE rnk <= {TFIDF_TOP_K}
        ORDER BY doc_id, rnk
    """,
    doc="Per-document top-3 tf-idf terms (keyword extraction): one "
    "token explode feeds tf and the vocabulary-sized df; idf join is "
    "a vocabulary join (AQE skew-split on the Zipf head), rank is a "
    "per-doc window over rounded weights with term tiebreak.",
    tags=("text", "retrieval", "llm"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens_col(F.lower(F.col("text"))).alias("toks")
    )
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # the tf table feeds both the df rollup and the scoring join —
    # materialized once, the corpus is tokenized once instead of
    # twice (r11)
    tf = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    rank_w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        w.withColumn("rnk", F.row_number().over(rank_w))
        .where(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


COVERAGE_TOP_K = 25


@register(
    "token_coverage_curve",
    oracle=f"""
        WITH counts AS (
            SELECT tok, COUNT(*) AS n
            FROM (
                SELECT unnest({T.tokens_sql('lower(text)')}) AS tok
                FROM documents
            )
            GROUP BY tok
        ),
        tot AS (SELECT SUM(n) AS total FROM counts),
        ranked AS (
            SELECT tok, n,
                   CAST(row_number() OVER (ORDER BY n DESC, tok) AS INTEGER)
                       AS rank
            FROM counts
        )
        SELECT rank, tok, CAST(n AS BIGINT) AS n,
               ROUND(1.0 * SUM(n) OVER (
                   ORDER BY rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) / t.total, 6) AS cum_share
        FROM ranked CROSS JOIN tot t
        WHERE rank <= {COVERAGE_TOP_K}
        ORDER BY rank
    """,
    doc="Zipf coverage curve: cumulative corpus share of the top-K "
    "vocabulary tokens — the 'how big must the tokenizer vocab be' "
    "diagnostic. One token shuffle to vocabulary-sized counts; the "
    "rank window and running sum operate on the aggregated vocab "
    "only (bounded), with the corpus total a 1-row broadcast.",
    tags=("text", "retrieval", "llm"),
)
def token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        table(spark, sf_dir, "documents")
        .select(
            F.explode(T.tokens_col(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    ranked = counts.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), "tok"))
    ).where(F.col("rank") <= COVERAGE_TOP_K)
    cum = (
        F.sum("n")
        .over(Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "tok",
            "n",
            F.round(cum / F.col("total"), 6).alias("cum_share"),
        )
        .orderBy("rank")
    )


# --- hybrid lexical + semantic retrieval (RRF fusion) -----------------------

RRF_K = 60  # Cormack et al. 2009 reciprocal-rank-fusion constant
HYBRID_TOP_N = 10
HYBRID_QUERY_VEC = 0  # pinned query: the embedding of vec_id 0

# ranked BM25 list (the bm25_search definition, rank instead of score)
_BM25_RANKED_SQL = f"""
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
    FROM (
        SELECT doc_id,
               ROUND(SUM(
                   ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl))
               ), 4) AS bm25
        FROM tf JOIN df USING (tok) CROSS JOIN stats s
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {TOP_N}
    )
"""

_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(q.embedding)), "
    "i -> q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE)), "
    "(x, y) -> x + y)"
)

_COS_RANKED_SQL = f"""
    SELECT neighbor_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY cos_sim DESC, neighbor_id) AS r_sem
    FROM (
        SELECT v.vec_id AS neighbor_id,
               ROUND({_DOT_SQL} / (q.nrm * v.nrm), 6) AS cos_sim
        FROM nv q JOIN nv v ON v.vec_id <> q.vec_id
        WHERE q.vec_id = {HYBRID_QUERY_VEC}
        ORDER BY cos_sim DESC, neighbor_id
        LIMIT {TOP_N}
    )
"""


@register(
    "hybrid_search",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {T.tokens_sql('lower(text)')} AS toks
            FROM documents
        ),
        dl AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
        stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
        tf AS (
            SELECT doc_id, dl, tok, COUNT(*) AS tf
            FROM (
                SELECT doc_id, dl,
                       unnest(list_filter(toks,
                           t -> t IN ({_TERMS_IN}))) AS tok
                FROM dl
            )
            GROUP BY doc_id, dl, tok
        ),
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        lex AS ({_BM25_RANKED_SQL}),
        nv AS (
            SELECT vec_id, embedding,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(
                       generate_series(1, len(embedding)),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
                       (x, y) -> x + y)) AS nrm
            FROM embeddings
        ),
        sem AS ({_COS_RANKED_SQL}),
        fused AS (
            SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                   l.r_lex, s.r_sem,
                   ROUND(COALESCE(1.0 / ({RRF_K} + l.r_lex), 0)
                         + COALESCE(1.0 / ({RRF_K} + s.r_sem), 0), 6)
                       AS rrf_score
            FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        )
        SELECT doc_id, CAST(r_lex AS BIGINT) AS r_lex,
               CAST(r_sem AS BIGINT) AS r_sem, rrf_score
        FROM fused
        ORDER BY rrf_score DESC, doc_id
        LIMIT {HYBRID_TOP_N}
    """,
    doc=f"Hybrid retrieval with reciprocal-rank fusion (Cormack et al. "
    f"2009, k={RRF_K}): the BM25 top-{TOP_N} lexical list fused with "
    f"the exact-cosine top-{TOP_N} semantic list for a pinned query "
    "(terms + the vec_id-0 embedding), 1/(k+rank) summed over the "
    "lists a document appears in — the standard first stage of a "
    "modern RAG/search stack, where neither signal alone suffices. "
    "Both lists are the already-registered definitions; the fusion "
    "join touches only the two top-N lists (bounded), so the hybrid "
    "layer adds zero corpus-scale work. Docs without an embedding "
    "simply never enter the semantic list (partial vector coverage, "
    "the production norm).",
    tags=("text", "retrieval", "llm", "ann"),
)
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.operators.ann import _with_norm_df, dot_col

    lex = bm25_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("r_lex"),
    )
    nv = _with_norm_df(table(spark, sf_dir, "embeddings"))
    q = nv.where(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    cos = dot_col(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_nrm") * F.col("nrm")
    )
    sem = (
        nv.where(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_id")
        .limit(TOP_N)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cos_sim"), "doc_id"))
            .alias("r_sem"),
        )
    )
    rrf = F.round(
        F.coalesce(1.0 / (RRF_K + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("r_sem")), F.lit(0.0)),
        6,
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("r_lex").cast("long").alias("r_lex"),
            F.col("r_sem").cast("long").alias("r_sem"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(HYBRID_TOP_N)
    )


# --- query-likelihood retrieval (Dirichlet smoothing) ------------------------

QL_MU = 2000.0


@register(
    "ql_dirichlet_search",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {T.tokens_sql('lower(text)')} AS toks
            FROM documents
        ),
        dl AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
        tot AS (SELECT SUM(dl) AS total_toks FROM dl),
        tf AS (
            SELECT doc_id, dl, tok, COUNT(*) AS tf
            FROM (
                SELECT doc_id, dl,
                       unnest(list_filter(toks, t -> t IN ({_TERMS_IN})))
                           AS tok
                FROM dl
            )
            GROUP BY doc_id, dl, tok
        ),
        ctf AS (SELECT tok, SUM(tf) AS ctf FROM tf GROUP BY tok),
        matched AS (
            SELECT tf.doc_id, ANY_VALUE(tf.dl) AS dl,
                   CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
                   SUM(CAST(ROUND(1e9 * ln(
                       1.0 + tf.tf * t.total_toks
                             / ({QL_MU} * ctf.ctf))) AS BIGINT)) AS m_c
            FROM tf JOIN ctf USING (tok) CROSS JOIN tot t
            GROUP BY tf.doc_id
        )
        SELECT doc_id, n_terms_matched,
               ROUND((m_c + {len(GATE_QUERY_TERMS)}
                      * CAST(ROUND(1e9 * ln({QL_MU} / (dl + {QL_MU})))
                             AS BIGINT)) / 1e9, 6) AS ql_score
        FROM matched
        ORDER BY (m_c + {len(GATE_QUERY_TERMS)}
                  * CAST(ROUND(1e9 * ln({QL_MU} / (dl + {QL_MU})))
                         AS BIGINT)) DESC, doc_id
        LIMIT {TOP_N}
    """,
    doc="Query-likelihood retrieval with Dirichlet smoothing (Ponte & "
    "Croft 1998; Zhai & Lafferty 2001, mu=2000) — the language-"
    "modeling ranker completing the classic trio next to BM25 (#62) "
    "and the RRF hybrid (#62b): score = sum ln(1 + tf/(mu*p_t)) + "
    "|q| ln(mu/(dl+mu)) over the pinned query, decomposed so only "
    "matched postings are scored (filter-before-explode bounded "
    "postings, the #62 scale shape, vocabulary-sized ctf broadcast). "
    "Every ln term is a 1e9 int64 code BEFORE the sum and the top-20 "
    "ranks on the integer total (house round-before-rank rule — "
    "stricter than #62's rounded-double sum).",
    tags=("text", "retrieval", "llm"),
)
def ql_dirichlet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens_col(F.lower(F.col("text"))).alias("toks")
    )
    dl = docs.select("doc_id", "toks", F.size("toks").alias("dl"))
    tot = dl.agg(F.sum("dl").alias("total_toks"))
    term_arr = F.array(*[F.lit(t) for t in GATE_QUERY_TERMS])
    tf = (
        dl.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter(
                    F.col("toks"), lambda t: F.array_contains(term_arr, t)
                )
            ).alias("tok"),
        )
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        # bounded postings feed the ctf rollup and the scoring join —
        # materialized once, the tokenize runs twice (length total +
        # postings), not 3x (r11, the bm25_search pattern)
        .localCheckpoint(eager=False)
    )
    ctf = tf.groupBy("tok").agg(F.sum("tf").alias("ctf"))
    term_code = F.round(
        1e9
        * F.log(
            1.0
            + F.col("tf")
            * F.col("total_toks")
            / (QL_MU * F.col("ctf"))
        )
    ).cast("long")
    matched = (
        tf.join(F.broadcast(ctf), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.any_value("dl").alias("dl"),
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum(term_code).alias("m_c"),
        )
    )
    len_code = F.round(
        1e9 * F.log(QL_MU / (F.col("dl") + QL_MU))
    ).cast("long")
    score_c = F.col("m_c") + len(GATE_QUERY_TERMS) * len_code
    return (
        matched.select(
            "doc_id",
            F.col("n_terms_matched").cast("long").alias("n_terms_matched"),
            F.round(score_c / 1e9, 6).alias("ql_score"),
            score_c.alias("_sc"),
        )
        .orderBy(F.desc("_sc"), "doc_id")
        .limit(TOP_N)
        .drop("_sc")
    )
