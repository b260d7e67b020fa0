"""Train/benchmark decontamination over `documents` (LLM-pipeline op).

Flags every training document that shares at least one 8-token n-gram
with a held-out benchmark set — the standard eval-contamination check
run before pretraining (the n-gram-overlap method popularized by the
GPT-3/PaLM appendices). The benchmark set here is the deterministic
slice `doc_id % BENCH_MOD == 0`; in production it would be the actual
eval suites, which are tiny (MBs) relative to the corpus.

8-gram codes come from a 3-level doubling chain over token char-hashes

    b_i = (c_i * 31 + c_{i+1})  mod P      (bigram,  span 2)
    q_i = (b_i * 37 + b_{i+2})  mod P      (4-gram,  span 4)
    o_i = (q_i * 41 + q_{i+4})  mod P      (8-gram,  span 8)

rather than one 8-way polynomial: Spark's `zip_with` takes exactly two
arrays, and the chain keeps every level a linear-cost vectorized
expression. Slice lengths derive from the TOKEN count (`nt-1, nt-3,
nt-7`) instead of `size()` of the previous level so CollapseProject
inlines each level into only its two data slices — 4 copies of the
level-1 hash total, i.e. O(8·n) md5 evals per doc, not O(n²) (see
[[pyspark-perf-pitfalls]] / dedup.py:44 for the measured failure mode
this avoids).

Scale posture (100 TB corpus): benchmark n-grams are bounded by the
benchmark suite size, so the membership join is a broadcast — the
training-side gram stream never shuffles; the per-doc hit count reuses
the doc_id partitioning set before tokenization. This is the one
dedup-family op where broadcast is *structurally* safe, because the
small side can't grow with the corpus.

Reference parity: the reference has no decontamination op (it predates
LLM pipelines); this extends SURVEY §2f alongside dedup (#30-33).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

BENCH_MOD = 25  # doc_id % 25 == 0 -> benchmark member (4% of docs)
_K2, _K3 = 37, 41  # level combiners; 31 at level 1 matches dedup shingles


def gram8_codes(toks: Column) -> Column:
    """Distinct 8-gram codes of a token array, as the doubling chain."""
    nt = F.size(toks)
    n1 = F.greatest(nt - 1, F.lit(0))
    b = F.zip_with(
        F.slice(toks, F.lit(1), n1),
        F.slice(toks, F.lit(2), n1),
        lambda x, y: (H.str_code_col(x) * 31 + H.str_code_col(y)) % F.lit(H.P),
    )
    n2 = F.greatest(nt - 3, F.lit(0))
    q = F.zip_with(
        F.slice(b, F.lit(1), n2),
        F.slice(b, F.lit(3), n2),
        lambda x, y: (x * _K2 + y) % F.lit(H.P),
    )
    n3 = F.greatest(nt - 7, F.lit(0))
    o = F.zip_with(
        F.slice(q, F.lit(1), n3),
        F.slice(q, F.lit(5), n3),
        lambda x, y: (x * _K3 + y) % F.lit(H.P),
    )
    return F.array_distinct(o)


_GRAMS_SQL = f"""
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 7, 0)),
               i -> (q[i] * {_K3} + q[i + 4]) % {H.P})) AS grams
    FROM (
        SELECT doc_id, t,
               list_transform(generate_series(1, greatest(len(t) - 3, 0)),
                              i -> (b[i] * {_K2} + b[i + 2]) % {H.P}) AS q
        FROM (
            SELECT doc_id, t,
                   list_transform(
                       generate_series(1, greatest(len(t) - 1, 0)),
                       i -> ({H.str_code_sql('t[i]')} * 31
                             + {H.str_code_sql('t[i + 1]')}) % {H.P}) AS b
            FROM (SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents)
        )
    )
"""


def _doc_gram_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, code) pairs, codes distinct per doc.

    Repartition by doc_id before the CPU-bound tokenize+hash pipeline:
    a small parquet file is one input split, and the later per-doc
    aggregation reuses the hash partitioning (no second exchange).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    grams = gram8_codes(T.tokens_col(F.col("text")))
    return d.select("doc_id", grams.alias("grams")).select(
        "doc_id", F.explode("grams").alias("code")
    )


@register(
    "decontaminate",
    oracle=f"""
        WITH items AS (
            SELECT doc_id, unnest(grams) AS code FROM ({_GRAMS_SQL})
        ),
        bench AS (
            SELECT DISTINCT code FROM items WHERE doc_id % {BENCH_MOD} = 0
        ),
        hits AS (
            SELECT i.doc_id, COUNT(*) AS n_hits
            FROM items i JOIN bench USING (code)
            WHERE i.doc_id % {BENCH_MOD} <> 0
            GROUP BY i.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               COALESCE(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % {BENCH_MOD} <> 0
        ORDER BY doc_id
    """,
    doc="Benchmark decontamination: flag training docs sharing any "
    "8-token n-gram with the benchmark slice (doc_id % 25 == 0). "
    "Benchmark grams broadcast (bounded by suite size); training "
    "grams never shuffle.",
    tags=("llm", "dedup"),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _doc_gram_items(spark, sf_dir)
    bench = (
        items.where(F.col("doc_id") % BENCH_MOD == 0).select("code").distinct()
    )
    train = items.where(F.col("doc_id") % BENCH_MOD != 0)
    # codes are distinct per doc (array_distinct upstream), so the hit
    # count is a plain COUNT; the partial agg runs map-side on the
    # doc_id partitioning from _doc_gram_items.
    hits = (
        train.join(F.broadcast(bench), "code")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id")
    )
    return (
        docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# --- semantic decontamination ----------------------------------------------

SEM_BENCH_MOD = 25     # vec_id % 25 == 0 -> held-out benchmark vectors (4%)
SEM_CONTAM_COS = 0.35  # cosine >= threshold -> semantically contaminated


@register(
    "decontaminate_semantic",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(
                       generate_series(1, len(embedding)),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
                       (x, y) -> x + y)) AS nrm
            FROM embeddings
        ),
        bench AS (SELECT * FROM v WHERE vec_id % {SEM_BENCH_MOD} = 0),
        corpus AS (SELECT * FROM v WHERE vec_id % {SEM_BENCH_MOD} <> 0),
        hits AS (
            SELECT c.vec_id,
                   MAX(ROUND(
                       list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(c.embedding)),
                           i -> c.embedding[i]::DOUBLE
                                * b.embedding[i]::DOUBLE)),
                           (x, y) -> x + y) / (c.nrm * b.nrm), 6))
                       AS max_bench_cos,
                   COUNT(*) AS n_bench_hits
            FROM corpus c JOIN bench b
              ON list_reduce(list_prepend(0.0, list_transform(
                     generate_series(1, len(c.embedding)),
                     i -> c.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
                     (x, y) -> x + y) / (c.nrm * b.nrm)
                 >= {SEM_CONTAM_COS}
            GROUP BY c.vec_id
        )
        SELECT vec_id, max_bench_cos, CAST(n_bench_hits AS BIGINT)
                   AS n_bench_hits
        FROM hits
        ORDER BY vec_id
    """,
    doc="Semantic benchmark decontamination (the embedding-space twin "
    "of the 8-gram `decontaminate` #48, per the paraphrase-leak "
    "findings of arXiv:2311.04850 — n-gram checks miss reworded "
    f"contamination): corpus vectors with cosine >= {SEM_CONTAM_COS} "
    f"against any held-out benchmark vector (vec_id % {SEM_BENCH_MOD}"
    " = 0) are flagged with their worst-hit score and hit count. "
    "Scale shape: the benchmark side is structurally bounded (a "
    "benchmark suite, not a corpus) and BROADCASTS — the corpus side "
    "is one scan-bound pass, no corpus-corpus pairs anywhere; at "
    "recall-critical scale the same stage runs against the IVF index "
    "(ann_ivf machinery) instead of flat broadcast.",
    tags=("llm", "ann"),
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.operators.ann import _with_norm_df, dot_col

    v = _with_norm_df(table(spark, sf_dir, "embeddings"))
    bench = v.where(F.col("vec_id") % SEM_BENCH_MOD == 0)
    corpus = v.where(F.col("vec_id") % SEM_BENCH_MOD != 0)
    c, b = corpus.alias("c"), bench.alias("b")
    cos = dot_col(F.col("c.embedding"), F.col("b.embedding")) / (
        F.col("c.nrm") * F.col("b.nrm")
    )
    return (
        c.join(F.broadcast(b))
        .select(F.col("c.vec_id").alias("vec_id"), cos.alias("_cos"))
        .where(F.col("_cos") >= SEM_CONTAM_COS)
        .groupBy("vec_id")
        .agg(
            F.max(F.round("_cos", 6)).alias("max_bench_cos"),
            F.count(F.lit(1)).alias("n_bench_hits"),
        )
        .orderBy("vec_id")
    )
