"""Embedding-column operators: distributed PCA and int8 quantization
(SURVEY §2f).

Large-scale embedding pipelines compress and re-project vectors before
indexing: PCA for dimensionality reduction (OPQ/IVF preprocessing —
Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011), scalar int8 quantization for 4× storage reduction ahead
of ANN serving. Both are re-expressed Spark-first:

- PCA uses the Gramian trick (as MLlib's RowMatrix.computeGramian):
  each Arrow batch emits its partial (n, Σx, XᵀX) — a d + d² + 1
  vector — which Spark reduces by position; only the d×d Gram reaches
  the driver (4 KB at d=64, independent of row count), where numpy's
  eigh finishes. The projection is then a broadcast d×k matmul inside
  an Arrow-batched pandas_udf. Nothing driver-side ever scales with
  the data.
- Quantization is pure column expressions (per-vector min/max scale,
  transform + floor) — scan-bound, shuffle-free, whole-stage codegen.

The mapInPandas / pandas_udf closures are self-contained (numpy only,
no repo imports) per the executor-import constraint.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

PCA_K = 4


def pca_fit(emb: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Fit PCA (PCA_K components) over a DataFrame's `embedding` column.

    Returns ``(mean[d], components[d,k], explained_var[k])``, or
    ``None`` when the input is empty (no model is definable).
    Components are sign-pinned (largest-|coefficient| entry positive)
    so downstream projections are deterministic up to float summation
    order.
    """

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # self-contained closure

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            n = float(len(x))
            s = x.sum(axis=0)
            g = (x.T @ x).ravel()
            yield pd.DataFrame(
                {"part": [np.concatenate(([n], s, g)).tolist()]}
            )

    part = emb.select(F.col("embedding").alias("v")).mapInPandas(
        partials, schema="part array<double>"
    )
    # Positional reduce: (batches × (1+d+d²)) rows shuffle down to
    # 1+d+d² — bounded by dimension, never by row count.
    flat = (
        part.select(F.posexplode("part").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    if not flat:
        return None  # empty input: no model; callers emit empty
    vec = np.zeros(len(flat))
    for r in flat:
        vec[r["pos"]] = r["val"]
    n = vec[0]
    d = int(round((np.sqrt(4 * (len(vec) - 1) + 1) - 1) / 2))
    mean = vec[1 : 1 + d] / n
    gram = vec[1 + d :].reshape(d, d)
    cov = gram / n - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1][:PCA_K]
    comps = eigvec[:, order]
    for j in range(comps.shape[1]):
        if comps[np.argmax(np.abs(comps[:, j])), j] < 0:
            comps[:, j] = -comps[:, j]
    return mean, comps, np.maximum(eigval[order], 0.0)


def pca_project(
    emb: DataFrame,
    mean: np.ndarray,
    comps: np.ndarray,
) -> DataFrame:
    """Project vectors onto fitted components: (x − mean) @ W via an
    Arrow-batched matmul. mean/W are closure constants (d·k doubles —
    scale-independent broadcast)."""
    mean_l = mean.tolist()
    comps_l = comps.tolist()

    @F.pandas_udf("array<double>")
    def proj(vs: pd.Series) -> pd.Series:
        import numpy as np

        m = np.asarray(mean_l)
        w = np.asarray(comps_l)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        out = (x - m) @ w
        return pd.Series(list(out))

    return emb.withColumn("pc", proj(F.col("embedding")))


@register(
    "pca_embeddings_projection",
    oracle=None,  # eigendecomposition is not SQL-expressible
    doc="Distributed PCA (Gramian partial-sum reduce, driver eigh, "
    "broadcast matmul projection): top-4 principal components per "
    "vector, sign-pinned. Rows-gated; pinned by pytest invariants "
    "(orthonormality, variance ordering, numpy parity) in "
    "tests/test_embeddings.py.",
    tags=("embeddings", "llm", "rows_gate"),
)
def pca_embeddings_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fitted = pca_fit(emb)
    if fitted is None:  # empty slice in -> empty result out
        cols = ", ".join(f"pc{i + 1} double" for i in range(PCA_K))
        return spark.createDataFrame([], f"vec_id long, {cols}")
    mean, comps, _ = fitted
    projected = pca_project(emb, mean, comps)
    return projected.select(
        "vec_id",
        *[
            F.round(F.element_at("pc", i + 1), 4).alias(f"pc{i + 1}")
            for i in range(PCA_K)
        ],
    ).orderBy("vec_id")


QUANT_LEVELS = 255  # uint8 code range [0, 255]


@register(
    "embedding_quantize",
    oracle=f"""
        WITH s AS (
            SELECT vec_id, embedding,
                   list_aggregate(embedding, 'min') AS mn,
                   list_aggregate(embedding, 'max') AS mx,
                   (list_aggregate(embedding, 'max')
                    - list_aggregate(embedding, 'min')) / {QUANT_LEVELS}.0
                       AS scale
            FROM embeddings
        )
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER) AS n_dims,
               ROUND(mn, 6) AS v_min,
               ROUND(mx, 6) AS v_max,
               array_to_string(
                   CASE WHEN scale = 0
                        THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                        ELSE list_transform(embedding, x ->
                            CAST(least({QUANT_LEVELS}.0,
                                       floor((x - mn) / scale + 0.5)) AS BIGINT))
                   END, ',') AS codes,
               ROUND(CASE WHEN scale = 0 THEN 0.0
                    ELSE list_sum(list_transform(embedding, x ->
                        pow(x - (mn + CAST(least({QUANT_LEVELS}.0,
                            floor((x - mn) / scale + 0.5)) AS BIGINT)
                            * scale), 2))) / len(embedding)
               END, 8) AS mse
        FROM s
        ORDER BY vec_id
    """,
    doc="Per-vector scalar int8 quantization (min/max affine codes) "
    "with reconstruction MSE: pure column expressions, scan-bound, "
    "shuffle-free — the 4x storage-reduction pass before ANN "
    "indexing.",
    tags=("embeddings", "llm"),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return quantize_vectors(emb).orderBy("vec_id")


def quantize_vectors(emb: DataFrame) -> DataFrame:
    """Scalar min/max quantization of a vector column (core of the
    registered `embedding_quantize` query; reusable on any frame)."""
    mn = F.array_min("embedding")
    mx = F.array_max("embedding")
    scale = (mx - mn) / float(QUANT_LEVELS)

    def code(x):
        return F.least(
            F.lit(float(QUANT_LEVELS)), F.floor((x - mn) / scale + 0.5)
        ).cast("long")

    codes = F.when(
        scale == 0,
        F.transform(F.col("embedding"), lambda x: F.lit(0).cast("long")),
    ).otherwise(F.transform(F.col("embedding"), code))
    sq_err = F.transform(
        F.col("embedding"),
        lambda x: F.pow(x - (mn + code(x) * scale), F.lit(2.0)),
    )
    mse = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.aggregate(sq_err, F.lit(0.0), lambda acc, e: acc + e)
        / F.size("embedding")
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round(mn, 6).alias("v_min"),
        F.round(mx, 6).alias("v_max"),
        # Serialized (comma-joined) rather than array<bigint>: the external
        # correctness driver canonicalizes result columns through pandas
        # sort_values, which cannot hash list-valued cells (r3 red row).
        # A flat string hashes identically on both engines and keeps the
        # full per-dimension code payload available to downstream parsers.
        F.array_join(codes.cast("array<string>"), ",").alias("codes"),
        F.round(mse, 8).alias("mse"),
    )


# --- product quantization ---------------------------------------------------

PQ_M = 4   # subvectors per vector
PQ_K = 16  # centroids per sub-codebook -> one byte-packable code each


def pq_fit(emb: DataFrame) -> list[list[list[float]]] | None:
    """Fit PQ_M per-subspace k-means codebooks (Jégou et al. 2011 PQ).

    Size-adaptive like `clustering.kmeans_fit`: up to the local cap
    the vectors are collected ONCE and all m sub-codebooks fit
    driver-side on slices — one Spark job instead of m (measured at
    sf0.1 with m=16: the whole IVF-PQ query drops 5.9 -> 2.5 s).
    Above the cap each codebook is a separate distributed k-means over
    the sliced subvectors (same Lloyd semantics, ensureK); driver
    state is m*k*(d/m) = k*d floats either way — dimension-bounded,
    never row-bounded. Returns None on empty input."""
    from mvrs_dspa_spark.operators.clustering import (
        ITERS,
        LOCAL_FIT_CAP,
        _kmeans_fit_local,
        kmeans_fit,
    )

    sample = (
        emb.select("vec_id", "embedding").limit(LOCAL_FIT_CAP + 1).collect()
    )
    if not sample:
        return None
    d = len(sample[0][1])
    assert d % PQ_M == 0, (d, PQ_M)
    sub = d // PQ_M
    if len(sample) <= LOCAL_FIT_CAP:
        return [
            _kmeans_fit_local(
                [(r[0], r[1][j * sub : (j + 1) * sub]) for r in sample],
                PQ_K,
                ITERS,
            )
            for j in range(PQ_M)
        ]
    books = []
    for j in range(PQ_M):
        sv = emb.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), j * sub + 1, sub).alias("sv"),
        )
        books.append(kmeans_fit(sv, "sv", k=PQ_K, id_col="vec_id"))
    return books


def pq_encode(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """codes[m] (argmin centroid per subspace) + reconstruction MSE via
    one Arrow-batched matmul per subspace; the codebooks are closure
    constants (k*d doubles — scale-independent broadcast)."""
    books_l = [[list(c) for c in b] for b in books]

    @F.pandas_udf("struct<codes: array<int>, mse: double>")
    def enc(vs: pd.Series) -> pd.DataFrame:
        import numpy as np

        bs = [np.asarray(b) for b in books_l]
        m = len(bs)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        sub = x.shape[1] // m
        codes = np.empty((len(x), m), dtype=np.int32)
        err = np.zeros(len(x))
        for j, cb in enumerate(bs):
            xs = x[:, j * sub : (j + 1) * sub]
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over c
            d2 = (
                (xs * xs).sum(axis=1, keepdims=True)
                - 2.0 * xs @ cb.T
                + (cb * cb).sum(axis=1)
            )
            codes[:, j] = d2.argmin(axis=1)
            err += d2[np.arange(len(x)), codes[:, j]]
        mse = err / x.shape[1]
        return pd.DataFrame(
            {"codes": list(codes), "mse": np.maximum(mse, 0.0)}
        )

    return emb.withColumn("_pq", enc(F.col("embedding")))


def pq_fit_exact(
    emb: DataFrame,
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
) -> list[list[list[int]]] | None:
    """pq_fit on the exact integer grid (r11 embedding_pq rows->oracle
    conversion): one `kmeans_fit_exact` per subvector slice, so every
    codebook is bit-identical to the unrolled per-subspace Lloyd in
    the DuckDB oracle. The float pq_fit stays for ann_ivf_pq."""
    from mvrs_dspa_spark.operators.clustering import (
        ITERS,
        LOCAL_FIT_CAP,
        _kmeans_fit_exact_local,
        kmeans_fit_exact,
    )

    sample = emb.select("vec_id", vec_col).limit(LOCAL_FIT_CAP + 1).collect()
    if not sample:
        return None
    d = len(sample[0][1])
    assert d % m == 0, (d, m)
    sub = d // m
    if len(sample) <= LOCAL_FIT_CAP:
        return [
            _kmeans_fit_exact_local(
                [(r[0], r[1][j * sub : (j + 1) * sub]) for r in sample],
                k,
                ITERS,
            )
            for j in range(m)
        ]
    books = []
    for j in range(m):
        sv = emb.select(
            F.col("vec_id"),
            F.slice(F.col(vec_col), j * sub + 1, sub).alias("sv"),
        )
        books.append(kmeans_fit_exact(sv, "sv", k=k, id_col="vec_id"))
    return books


def pq_encode_exact(
    emb: DataFrame,
    books: list[list[list[int]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Integer-grid PQ encode: codes via exact int64 argmin per
    subspace (ties -> lowest code), plus the exact integer residual
    sum `err_q` (grid^2 units; the caller derives MSE with one
    division so no doubles are ever summed)."""
    books_l = [[[int(x) for x in c] for c in b] for b in books]
    from mvrs_dspa_spark.operators.clustering import Q_SCALE

    scale = float(Q_SCALE)

    @F.pandas_udf("struct<codes: array<int>, err_q: long>")
    def enc(vs: pd.Series) -> pd.DataFrame:
        import numpy as np

        bs = [np.asarray(b, dtype=np.int64) for b in books_l]
        m = len(bs)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        if len(x) == 0:
            return pd.DataFrame(
                {
                    "codes": pd.Series([], dtype=object),
                    "err_q": pd.Series([], dtype="int64"),
                }
            )
        q = np.floor(x * scale + 0.5).astype(np.int64)
        sub = q.shape[1] // m
        codes = np.empty((len(q), m), dtype=np.int32)
        err = np.zeros(len(q), dtype=np.int64)
        for j, cb in enumerate(bs):
            xs = q[:, j * sub : (j + 1) * sub]
            d2 = (
                (xs * xs).sum(axis=1, keepdims=True)
                - 2 * (xs @ cb.T)
                + (cb * cb).sum(axis=1)
            )
            codes[:, j] = d2.argmin(axis=1)
            err += d2[np.arange(len(q)), codes[:, j]]
        return pd.DataFrame({"codes": list(codes), "err_q": err})

    return emb.withColumn("_pq", enc(F.col(vec_col)))


def _pq_oracle() -> str:
    """Per-subspace unrolled Lloyd (prefixed CTE blocks over subvector
    slices) -> integer argmin codes -> one final MSE division."""
    from mvrs_dspa_spark.operators.clustering import (
        ITERS,
        Q_SCALE,
        _kmeans_idist_sql,
        kmeans_exact_ctes,
    )

    d = 64
    sub = d // PQ_M
    idist = _kmeans_idist_sql(sub)
    q2 = float(Q_SCALE) ** 2
    parts: list[str] = []
    for j in range(PQ_M):
        parts.extend(
            kmeans_exact_ctes(
                PQ_K,
                ITERS,
                sub,
                prefix=f"s{j}_",
                vec_sql=f"embedding[{j * sub + 1}:{(j + 1) * sub}]",
            )
        )
        parts.append(
            f"""s{j}_fin AS MATERIALIZED (
            SELECT vec_id,
                   CAST(MIN(dkey) % {PQ_K} AS INTEGER) AS code,
                   MIN(dkey) // {PQ_K} AS d2
            FROM (SELECT q.vec_id, {idist} * {PQ_K} + c.c AS dkey
                  FROM s{j}_q q CROSS JOIN s{j}_c{ITERS} c)
            GROUP BY vec_id
        )"""
        )
    ctes = ",\n        ".join(parts)
    code_cat = " || ',' || ".join(
        f"CAST(s{j}.code AS VARCHAR)" for j in range(PQ_M)
    )
    err_sum = " + ".join(f"s{j}.d2" for j in range(PQ_M))
    joins = " ".join(
        f"JOIN s{j}_fin s{j} USING (vec_id)" for j in range(1, PQ_M)
    )
    return f"""
        WITH {ctes}
        SELECT vec_id,
               {code_cat} AS codes,
               ROUND(CAST({err_sum} AS DOUBLE) / {q2} / {d}, 6)
                   AS recon_mse
        FROM s0_fin s0 {joins}
        ORDER BY vec_id
    """


@register(
    "embedding_pq",
    oracle=_pq_oracle(),
    doc=f"Product quantization (PQ{PQ_M}x{PQ_K}, Jégou et al. TPAMI "
    "2011): each vector compressed to m sub-codebook codes "
    f"({PQ_M} bytes vs d*4 — 64x at d=64, vs int8's 4x in "
    "embedding_quantize #65). Codebooks are m distributed k-means "
    "fits on the subvector slices; encoding is a broadcast matmul "
    "argmin per subspace. r11 rows->oracle conversion: codebooks come "
    "from the exact integer-grid Lloyd per slice, codes and residuals "
    "are exact int64, and MSE is one final division — the whole "
    "fit+encode pipeline value-hash-matches the per-subspace unrolled "
    "DuckDB oracle (float pq_fit/pq_encode stay for ann_ivf_pq).",
    tags=("llm", "embeddings"),
)
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.operators.clustering import Q_SCALE

    emb = table(spark, sf_dir, "embeddings")
    books = pq_fit_exact(emb)
    if books is None:
        return spark.createDataFrame(
            [], "vec_id long, codes string, recon_mse double"
        )
    q2 = float(Q_SCALE) ** 2
    return (
        pq_encode_exact(emb, books)
        .select(
            "vec_id",
            # Serialized flat (comma-joined), not array<int>: the external
            # driver canonicalizes through pandas sort_values, which cannot
            # hash list cells (this exact class went red for
            # embedding_quantize in r3 and for this query in r5). The array
            # form stays available on the library surface (pq_encode).
            F.array_join(
                F.col("_pq.codes").cast("array<string>"), ","
            ).alias("codes"),
            F.round(
                F.col("_pq.err_q").cast("double") / F.lit(q2) / F.lit(64),
                6,
            ).alias("recon_mse"),
        )
        .orderBy("vec_id")
    )


# --- pinned-codebook PQ encode (the oracle-checkable PQ step) ----------------
#
# embedding_pq is rows-gated because the codebook FIT is iterative
# k-means, but its ENCODE step — per-subspace argmin over the codebook
# — is deterministic given codebooks. Pinning the codebooks to
# data-independent dyadic constants puts the subspace slicing, the
# distance fold, the argmin tiebreak, and the residual accumulation
# under a full value-hash oracle (VERDICT r7 #3, the
# kmeans_assign_pinned playbook).

PQE_SUB = 16  # dims per subspace: PQ_M * PQE_SUB = the 64-dim layout
# dyadic-exact codebook entries (multiples of 1/1024 in [-0.5, 0.5)):
# each (x - c) and its square are exactly-rounded IEEE ops on
# identical operands in both engines.
PINNED_CODEBOOKS: list[list[list[float]]] = [
    [
        [
            (((j * 61 + c * 131 + d * 17) % 1024) - 512) / 1024.0
            for d in range(PQE_SUB)
        ]
        for c in range(PQ_K)
    ]
    for j in range(PQ_M)
]

_PIN_BOOKS_SQL = ", ".join(
    f"({j}, {c}, [{', '.join(repr(v) for v in vec)}])"
    for j, book in enumerate(PINNED_CODEBOOKS)
    for c, vec in enumerate(book)
)


def _sq_dist_col(vec, centroid: list[float]):
    """Sequential ||vec - c||^2 fold — IEEE-identical to the oracle's
    list_reduce (the clustering._sq_dist shape, local to avoid a
    module cycle)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(
            vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register(
    "embedding_pq_encode_pinned",
    oracle=f"""
        WITH books(j, cid, cvec) AS (VALUES {_PIN_BOOKS_SQL}),
        dists AS (
            SELECT e.vec_id, b.j, b.cid,
                   list_reduce(list_prepend(0.0, list_transform(
                       generate_series(1, {PQE_SUB}),
                       i -> (e.embedding[b.j * {PQE_SUB} + i]::DOUBLE
                             - b.cvec[i])
                            * (e.embedding[b.j * {PQE_SUB} + i]::DOUBLE
                               - b.cvec[i]))),
                       (x, y) -> x + y) AS d
            FROM embeddings e CROSS JOIN books b
        ),
        best AS (
            SELECT vec_id, j, cid, d,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, j ORDER BY d, cid) AS rn
            FROM dists
        )
        SELECT vec_id,
               string_agg(CAST(cid AS VARCHAR), ',' ORDER BY j) AS codes,
               ROUND(SUM(CAST(ROUND(1e9 * d) AS BIGINT))
                     / {PQ_M * PQE_SUB}e9, 6) AS recon_mse
        FROM best WHERE rn = 1
        GROUP BY vec_id
        ORDER BY vec_id
    """,
    doc=f"Product-quantization encode against PINNED dyadic-exact "
    f"codebooks (PQ{PQ_M}x{PQ_K} on {PQ_M}x{PQE_SUB}-dim slices) — "
    "the deterministic selection step of embedding_pq under a full "
    "value-hash oracle (the iterative codebook fit stays rows-gated "
    "in embedding_pq; same split as kmeans_assign_pinned / "
    "ann_lsh_assign_pinned). Codebooks ride as literals, distances "
    "are sequential zip_with folds, argmin ties break to the lowest "
    "code on both engines, and per-subspace residuals are 1e9 "
    "int-coded before summing so the MSE is summation-order free. "
    "Projection-only: zero shuffle before the final sort.",
    tags=("llm", "embeddings"),
)
def embedding_pq_encode_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = []
    err_code = F.lit(0).cast("long")
    for j in range(PQ_M):
        sv = F.slice(F.col("embedding"), j * PQE_SUB + 1, PQE_SUB)
        dists = F.array(
            *[_sq_dist_col(sv, PINNED_CODEBOOKS[j][c]) for c in range(PQ_K)]
        )
        best = F.array_min(dists)
        codes.append(
            (F.array_position(dists, best) - 1).cast("int").cast("string")
        )
        err_code = err_code + F.round(best * 1e9).cast("long")
    return emb.select(
        "vec_id",
        F.concat_ws(",", *codes).alias("codes"),
        F.round(err_code / F.lit(float(PQ_M * PQE_SUB) * 1e9), 6).alias(
            "recon_mse"
        ),
    ).orderBy("vec_id")


# --- nearest-class-mean classifier evaluation ---------------------------------
#
# Prototype classifier (Mensink et al. 2013): one centroid per label
# from the NON-probe vectors, probes classified by the nearest
# centroid via argmin of |c|^2 - 2 x.c (the |x|^2 term is
# rank-invariant and dropped). Completes the labeled-embedding
# evaluation suite: kNN classification (#99), NDCG ranking (#146),
# Shapley valuation (#152), and now the parametric prototype baseline
# the neighborhood methods are judged against.

from mvrs_dspa_spark.operators.ann import (  # noqa: E402
    MAX_QUERIES as _NCM_MAXQ,
)
from mvrs_dspa_spark.operators.ann import (  # noqa: E402
    QUERY_MOD as _NCM_MOD,
)
from mvrs_dspa_spark.operators.ann import _dot_sql, dot_col  # noqa: E402


@register(
    "ncm_classifier_eval",
    oracle=f"""
        WITH train AS (
            SELECT * FROM embeddings
            WHERE NOT (vec_id % {_NCM_MOD} = 0
                       AND vec_id < {_NCM_MOD * _NCM_MAXQ})
        ),
        maxd AS (SELECT MAX(len(embedding)) AS d FROM embeddings),
        dims AS (
            SELECT t.label, g.i AS dim,
                   CAST(ROUND(1e6 * t.embedding[g.i]::DOUBLE) AS BIGINT)
                       AS code
            FROM train t
            CROSS JOIN (SELECT unnest(generate_series(1,
                            (SELECT d FROM maxd))) AS i) g
            WHERE g.i <= len(t.embedding)
        ),
        nl AS (SELECT label, COUNT(*) AS n FROM train GROUP BY label),
        cent AS (
            SELECT label, dim, SUM(code) AS scode
            FROM dims GROUP BY label, dim
        ),
        carr AS (
            SELECT c.label,
                   list(c.scode / (1e6 * nl.n) ORDER BY c.dim) AS cvec
            FROM cent c JOIN nl ON nl.label = c.label
            GROUP BY c.label
        ),
        cents AS (
            SELECT label AS c_label, cvec,
                   {_dot_sql('cvec', 'cvec')} AS c2
            FROM carr
        ),
        q AS (SELECT vec_id, label, embedding FROM embeddings
              WHERE vec_id % {_NCM_MOD} = 0
                AND vec_id < {_NCM_MOD * _NCM_MAXQ}),
        scored AS (
            SELECT q.vec_id, q.label AS true_label, c.c_label,
                   ROUND(c.c2 - 2 * ({_dot_sql('q.embedding', 'c.cvec')}),
                         6) AS score
            FROM q CROSS JOIN cents c
        ),
        pred AS (
            SELECT vec_id, true_label, c_label AS pred_label
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id
                    ORDER BY score, c_label) AS rn
                FROM scored
            )
            WHERE rn = 1
        )
        SELECT CAST(true_label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(count_if(pred_label = true_label) AS BIGINT)
                   AS n_correct,
               ROUND(count_if(pred_label = true_label)
                     / COUNT(*)::DOUBLE, 6) AS accuracy
        FROM pred
        GROUP BY true_label
        ORDER BY label
    """,
    doc="Nearest-class-mean classifier evaluation (Mensink et al. "
    "2013): per-label centroids fit on the NON-probe vectors (clean "
    "train/serve split — no leakage), probes assigned to the nearest "
    "centroid by the rank-equivalent |c|^2 - 2 x.c score, per-class "
    "accuracy. The parametric prototype baseline against the "
    "neighborhood methods on the same probe set (kNN #99, NDCG "
    "#146, Shapley #152) — NCM needs L centroids, not the corpus, "
    "at serving time. Determinism: per-dim centroid sums are exact "
    "1e-6 int codes (float summation order cannot move them), the "
    "centroid value is one division, dot products are the house "
    "left-to-right fold, and ranking uses the 6-rounded score with "
    "label tiebreak. Plan: the 64x explode feeds ONE map-side-"
    "combined (label, dim) aggregation — at 100 TB this is a scan "
    "plus a 640-cell rollup; scoring is a broadcast of L centroid "
    "rows against the bounded probe set.",
    tags=("ann", "validation", "llm"),
)
def ncm_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    is_probe = (F.col("vec_id") % _NCM_MOD == 0) & (
        F.col("vec_id") < _NCM_MOD * _NCM_MAXQ
    )
    train = emb.where(~is_probe)
    dims = train.select(
        "label",
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.lit(1e6) * F.col("val").cast("double"))
        .cast("long")
        .alias("code"),
    )
    # per-label n rides the centroid aggregation (every vector emits
    # exactly one row per dim, so the per-(label, dim) row count IS
    # the label count) — the separate train scan for nl is gone (r11)
    cent = dims.groupBy("label", "dim").agg(
        F.sum("code").alias("scode"), F.count(F.lit(1)).alias("n")
    )
    carr = (
        cent.select(
            "label",
            F.struct("dim", (F.col("scode") / (F.lit(1e6) * F.col("n"))).alias("cval")).alias("dv"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("dv")), lambda s: s.cval
            ).alias("cvec")
        )
    )
    cents = carr.select(
        F.col("label").alias("c_label"),
        "cvec",
        dot_col(F.col("cvec"), F.col("cvec")).alias("c2"),
    )
    q = emb.where(is_probe).select("vec_id", "label", "embedding")
    scored = q.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.col("label").alias("true_label"),
        "c_label",
        F.round(
            F.col("c2")
            - 2 * dot_col(F.col("embedding"), F.col("cvec")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy("score", "c_label")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    correct = F.count_if(F.col("pred_label") == F.col("true_label"))
    return (
        pred.groupBy(F.col("true_label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            correct.alias("n_correct"),
            F.round(correct / F.count(F.lit(1)).cast("double"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("label")
    )


# --- Johnson-Lindenstrauss random projection ---------------------------------

JL_IN_DIM = 64
JL_OUT_DIM = 16
_JL_A, _JL_B = 48_271, 11  # affine sign hash (deterministic, host-known)
_JL_P = 2_147_483_647

# Achlioptas (2003) database-friendly projection: entries are ±1
# (scaled 1/sqrt(k) at read-out), generated host-side so BOTH engines
# inline the identical literal matrix — no RNG anywhere.
_JL_SIGNS: list[list[int]] = [
    [
        1 if ((_JL_A * (d * JL_OUT_DIM + j) + _JL_B) % _JL_P) % 2 == 0 else -1
        for j in range(JL_OUT_DIM)
    ]
    for d in range(JL_IN_DIM)
]


def _jl_sql_expr(j: int) -> str:
    terms = " ".join(
        ("+" if _JL_SIGNS[d][j] > 0 else "-") + f" embedding[{d + 1}]::DOUBLE"
        for d in range(JL_IN_DIM)
    )
    return f"ROUND(({terms.lstrip('+ ')}) / 4.0, 6)"


@register(
    "embedding_random_projection",
    oracle=f"""
        SELECT vec_id,
               {", ".join(f"{_jl_sql_expr(j)} AS p{j}" for j in range(JL_OUT_DIM))}
        FROM embeddings
        ORDER BY vec_id
    """,
    doc="Johnson-Lindenstrauss random projection (Achlioptas 2003 "
    f"database-friendly ±1 matrix) of the {JL_IN_DIM}-dim embeddings "
    f"to {JL_OUT_DIM} dims — the cheap re-projection ahead of "
    "LSH/IVF indexing when PCA's two passes (#64) are too expensive; "
    "distance preservation is the JL lemma's guarantee, pytest-"
    "checked on sampled pairs. Pure projection: the ±1 matrix rides "
    "as literals, each output dim is one fixed-order signed sum of "
    "the input floats (bit-identical across engines, like the dot-"
    "product folds), zero shuffle before the final sort. 1/sqrt(16) "
    "= exact dyadic 1/4 scaling.",
    tags=("ann", "llm"),
)
def embedding_random_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = lambda d: F.element_at("embedding", d + 1).cast("double")  # noqa: E731
    cols = []
    for j in range(JL_OUT_DIM):
        acc = e(0) * float(_JL_SIGNS[0][j])
        for d in range(1, JL_IN_DIM):
            acc = (acc + e(d)) if _JL_SIGNS[d][j] > 0 else (acc - e(d))
        cols.append(F.round(acc / 4.0, 6).alias(f"p{j}"))
    return emb.select("vec_id", *cols).orderBy("vec_id")


# --- greedy k-center core-set selection --------------------------------------
#
# Diversity (core-set) selection for training data (Sener & Savarese
# 2018, arXiv:1708.00489; Gonzalez 1985 greedy 2-approximation): pick
# K points so the maximum distance from any point to its nearest
# selected center is (within 2x) minimized. Greedy = K passes, each
# broadcasting ONE new center and keeping a running min-distance per
# point — the k-pass structure is inherent to the guarantee, and each
# pass is a single map-side update at any scale (no pair explosion).
# Distances are cosine, each pairwise value ROUNDED to 6 before any
# least/argmax so both engines select identical centers
# (round-before-rank house rule); ties break on vec_id.

KCENTER_K = 16

_KC_NORM_SQL = """
    SELECT vec_id, embedding,
           sqrt({dot}) AS nrm
    FROM embeddings
""".format(dot=_dot_sql("embedding", "embedding"))


def _kcenter_sql() -> str:
    parts = [
        f"v AS MATERIALIZED ({_KC_NORM_SQL})",
        "c1 AS (SELECT vec_id, embedding, nrm FROM v ORDER BY vec_id LIMIT 1)",
    ]
    dist = (
        "ROUND(1 - {d} / (s.nrm * c.nrm), 6)".format(
            d=_dot_sql("s.embedding", "c.embedding")
        )
    )
    sels = [
        "SELECT 1 AS selection_rank, (SELECT vec_id FROM c1) AS vec_id, "
        "CAST(NULL AS DOUBLE) AS coverage_radius"
    ]
    for r in range(2, KCENTER_K + 1):
        src = "v" if r == 2 else f"s{r - 2}"
        mind = dist if r == 2 else f"LEAST(s.mind, {dist})"
        parts.append(f"""
        s{r - 1} AS MATERIALIZED (
            SELECT s.vec_id, s.embedding, s.nrm, {mind} AS mind
            FROM {src} s, c{r - 1} c)""")
        parts.append(f"""
        c{r} AS (SELECT vec_id, embedding, nrm, mind FROM s{r - 1}
                 ORDER BY mind DESC, vec_id LIMIT 1)""")
        sels.append(
            f"SELECT {r}, (SELECT vec_id FROM c{r}), (SELECT mind FROM c{r})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL ".join(sels)
        + "\nORDER BY selection_rank"
    )


@register(
    "coreset_kcenter_selection",
    oracle=_kcenter_sql(),
    doc=f"Greedy k-center core-set selection over the embedding corpus "
    f"(Gonzalez 1985 2-approximation; Sener-Savarese 2018 active-"
    f"learning core-sets): {KCENTER_K} maximally-spread vectors, each "
    "round adding the point farthest (cosine distance) from the "
    "selected set — the diversity-sampling complement of quality-"
    "ranked selection (#177) and semantic dedup (#54: that REMOVES "
    "redundancy, this KEEPS a spread summary). coverage_radius at "
    "rank r is the max-min distance when that center was chosen — a "
    "certified upper bound on twice the optimal r-center radius. "
    "Scale shape: K passes, each broadcasting ONE center row and "
    "keeping a running per-point min distance (map-side; no joins, "
    "no pair explosion); every pairwise distance is rounded to 6 "
    "BEFORE least/argmax so both engines choose identical centers.",
    tags=("embeddings", "sampling", "llm"),
)
def coreset_kcenter_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_col(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    seed = v.orderBy("vec_id").limit(1).collect()
    out_schema = "selection_rank int, vec_id long, coverage_radius double"
    if not seed:
        return spark.createDataFrame([], out_schema)
    chosen = [(1, seed[0].vec_id, None)]
    cur = v
    c_emb, c_nrm = list(seed[0].embedding), float(seed[0].nrm)
    mind = None
    for r in range(2, KCENTER_K + 1):
        lit_emb = F.array(*[F.lit(float(x)) for x in c_emb])
        d = F.round(
            1
            - dot_col(F.col("embedding"), lit_emb)
            / (F.col("nrm") * F.lit(c_nrm)),
            6,
        )
        mind_col = d if mind is None else F.least(F.col("mind"), d)
        cur = cur.select(
            "vec_id", "embedding", "nrm", mind_col.alias("mind")
        ).localCheckpoint(eager=False)
        mind = True
        # bounded scalar pull: ONE center row per round (k-means idiom)
        top = (
            cur.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1).collect()
        )
        chosen.append((r, top[0].vec_id, float(top[0].mind)))
        c_emb, c_nrm = list(top[0].embedding), float(top[0].nrm)
    return spark.createDataFrame(chosen, out_schema).orderBy(
        "selection_rank"
    )


# --- embedding centroid drift ------------------------------------------------
#
# Representation-drift screen for the embedding corpus: per label,
# compare the REFERENCE slice (even vec_id, the deterministic
# hash-split idiom of #42) against the CURRENT slice (odd vec_id) by
# centroid cosine and L2 shift. The sufficient statistic is the
# per-(label, slice, dim) sum of 1e-6-coded components — int64-exact
# and ADDITIVE, which is what lets the streaming monitor (29am)
# maintain it per micro-batch and serve the identical table. All
# cross-dim reductions are exact decimal/HUGEINT; doubles appear only
# in the final per-label formulas.

EMB_DRIFT_SCALE = 1_000_000


def emb_code_col(x: Column) -> Column:
    """1e-6 integer coding of an embedding component — ONE definition
    shared by the batch query and the streaming monitor."""
    return F.round(x.cast("double") * EMB_DRIFT_SCALE).cast("long")


def embedding_dim_sums(emb: DataFrame) -> DataFrame:
    """(label, period, dim, s_c, n) per-dimension coded sums from an
    embeddings frame — period 0 = even vec_id (reference), 1 = odd.
    n rides every dim row (constant within (label, period))."""
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("period"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    return ex.groupBy("label", "period", "dim").agg(
        F.sum(emb_code_col(F.col("x"))).alias("s_c"),
        F.count(F.lit(1)).alias("n"),
    )


def embedding_drift_from_sums(sums: DataFrame) -> DataFrame:
    """Per-label drift table from the additive dim-sum grid — the
    serving tail shared by the batch query and the streaming monitor.

    cosine(mean_ref, mean_cur) needs no counts (the 1/n factors
    cancel); the L2 shift uses the exact cross-multiplied form
    (S1*n2 - S2*n1) so every accumulator stays integer until the
    single final division."""
    dec = "decimal(38,0)"
    s1 = F.when(F.col("period") == 0, F.col("s_c")).otherwise(F.lit(0))
    s2 = F.when(F.col("period") == 1, F.col("s_c")).otherwise(F.lit(0))
    wide = sums.groupBy("label", "dim").agg(
        F.sum(s1).alias("a"),
        F.sum(s2).alias("b"),
        F.max(F.when(F.col("period") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("period") == 1, F.col("n"))).alias("n2"),
    )
    per = wide.groupBy("label").agg(
        F.max("n1").alias("n_ref"),
        F.max("n2").alias("n_cur"),
        F.sum(F.col("a").cast(dec) * F.col("b")).alias("sab"),
        F.sum(F.col("a").cast(dec) * F.col("a")).alias("saa"),
        F.sum(F.col("b").cast(dec) * F.col("b")).alias("sbb"),
        F.sum(
            (
                F.col("a").cast(dec) * F.col("n2")
                - F.col("b").cast(dec) * F.col("n1")
            )
            * (
                F.col("a").cast(dec) * F.col("n2")
                - F.col("b").cast(dec) * F.col("n1")
            )
        ).alias("sd2"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    return per.select(
        "label",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.round(
                d(F.col("sab"))
                / F.nullif(
                    F.sqrt(d(F.col("saa")) * d(F.col("sbb"))), F.lit(0.0)
                ),
                6,
            ),
        ).alias("centroid_cosine"),
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.round(
                F.sqrt(d(F.col("sd2")))
                / (
                    d(F.col("n_ref"))
                    * F.col("n_cur")
                    * F.lit(float(EMB_DRIFT_SCALE))
                ),
                6,
            ),
        ).alias("centroid_shift_l2"),
    ).orderBy("label")


@register(
    "embedding_centroid_drift",
    oracle=f"""
        WITH ex AS (
            SELECT label,
                   CAST(vec_id % 2 AS INTEGER) AS period,
                   unnest(generate_series(1, len(embedding))) AS dim1,
                   embedding
            FROM embeddings
        ),
        sums AS (
            SELECT label, period, dim1 - 1 AS dim,
                   SUM(CAST(ROUND(embedding[dim1]::DOUBLE
                                  * {EMB_DRIFT_SCALE}) AS BIGINT)) AS s_c,
                   COUNT(*) AS n
            FROM ex GROUP BY 1, 2, 3
        ),
        wide AS (
            SELECT label, dim,
                   SUM(CASE WHEN period = 0 THEN s_c ELSE 0 END) AS a,
                   SUM(CASE WHEN period = 1 THEN s_c ELSE 0 END) AS b,
                   MAX(CASE WHEN period = 0 THEN n END) AS n1,
                   MAX(CASE WHEN period = 1 THEN n END) AS n2
            FROM sums GROUP BY 1, 2
        ),
        per AS (
            SELECT label,
                   MAX(n1) AS n_ref, MAX(n2) AS n_cur,
                   SUM(CAST(a AS HUGEINT) * b) AS sab,
                   SUM(CAST(a AS HUGEINT) * a) AS saa,
                   SUM(CAST(b AS HUGEINT) * b) AS sbb,
                   SUM((CAST(a AS HUGEINT) * n2 - CAST(b AS HUGEINT) * n1)
                       * (CAST(a AS HUGEINT) * n2
                          - CAST(b AS HUGEINT) * n1)) AS sd2
            FROM wide GROUP BY label
        )
        SELECT label,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur,
               CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                   ROUND(CAST(sab AS DOUBLE)
                         / NULLIF(sqrt(CAST(saa AS DOUBLE)
                                       * CAST(sbb AS DOUBLE)), 0), 6)
               END AS centroid_cosine,
               CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                   ROUND(sqrt(CAST(sd2 AS DOUBLE))
                         / (CAST(n_ref AS DOUBLE) * n_cur
                            * {EMB_DRIFT_SCALE}), 6)
               END AS centroid_shift_l2
        FROM per
        ORDER BY label
    """,
    doc="Embedding-space representation drift per label: centroid "
    "cosine and L2 shift between the reference slice (even vec_id — "
    "the deterministic hash-split idiom of #42) and the current slice "
    "(odd vec_id) — the semantic twin of the value-space drift family "
    "(PSI #10am / KS #10am-b / W1 #175) for detecting encoder or "
    "corpus shifts before they poison ANN serving. Sufficient "
    "statistic: per-(label, slice, dim) sums of 1e-6-coded "
    "components — int64-exact, ADDITIVE (the streaming monitor 29am "
    "maintains the same grid), bounded by labels x 2 x dims; cross-"
    "dim reductions are decimal/HUGEINT (cosine needs no counts — "
    "the 1/n factors cancel; the L2 shift cross-multiplies "
    "S1*n2 - S2*n1 to stay integer).",
    tags=("embeddings", "validation", "llm"),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return embedding_drift_from_sums(embedding_dim_sums(emb))


# --- two-NN intrinsic dimension ----------------------------------------------
#
# Facco et al. 2017 (arXiv:1803.06992 lineage, "Estimating the
# intrinsic dimension of datasets by a minimal neighborhood
# information"): the ratio mu = r2/r1 of each point's two nearest-
# neighbor distances follows a Pareto law with exponent equal to the
# intrinsic dimension, giving the MLE id = n / sum(ln mu). The
# diagnostic read before trusting PCA variance curves (#64) or
# choosing ANN index parameters: a 64-dim table whose data lives on a
# ~6-dim manifold wants very different index settings.

IDIM_MOD = 50      # probe every 50th vector (the ann.py cap idiom)
IDIM_MAXQ = 1024   # hard probe cap


@register(
    "embedding_intrinsic_dim",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   {_dot_sql("embedding", "embedding")} AS sq
            FROM embeddings
        ),
        q AS (SELECT * FROM v
              WHERE vec_id % {IDIM_MOD} = 0
                AND vec_id < {IDIM_MOD * IDIM_MAXQ}),
        d AS (
            SELECT q.vec_id AS probe_id, v.vec_id AS neighbor_id,
                   ROUND(q.sq + v.sq
                         - 2 * {_dot_sql("q.embedding", "v.embedding")},
                         12) AS d2
            FROM q JOIN v ON q.vec_id <> v.vec_id
        ),
        top2 AS (
            SELECT probe_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY d2, neighbor_id) AS rn
            FROM d
        ),
        mu AS (
            SELECT probe_id,
                   MIN(CASE WHEN rn = 1 THEN d2 END) AS r1s,
                   MIN(CASE WHEN rn = 2 THEN d2 END) AS r2s
            FROM top2 WHERE rn <= 2 GROUP BY probe_id
        ),
        coded AS (
            SELECT probe_id, r1s,
                   CASE WHEN r1s > 0 THEN
                       CAST(ROUND(1e9 * ln(r2s / r1s) / 2) AS BIGINT)
                   END AS lnmu_c
            FROM mu
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(COUNT(*) FILTER (WHERE r1s <= 0) AS BIGINT)
                   AS n_degenerate,
               ROUND(COUNT(lnmu_c) * 1e9
                     / NULLIF(CAST(SUM(lnmu_c) AS DOUBLE), 0), 4)
                   AS id_twonn,
               ROUND(CAST(SUM(lnmu_c) AS DOUBLE)
                     / NULLIF(COUNT(lnmu_c), 0) / 1e9, 6) AS mean_log_mu
        FROM coded
    """,
    doc="Two-NN intrinsic-dimension estimate of the embedding corpus "
    "(Facco-Rodriguez-Laio 2017): per probe, the ratio of the two "
    "nearest Euclidean distances is Pareto with exponent = intrinsic "
    "dimension, so id = n / sum(ln r2/r1) — the manifold diagnostic "
    "read before trusting PCA variance (#64) or sizing ANN indexes. "
    "Probe set capped at "
    f"{IDIM_MAXQ} (the ann.py broadcast idiom); squared distances "
    "derive from fixed-order dot-product folds and are ROUNDED "
    "before the NN rank (round-before-rank, neighbor tiebreak); the "
    "per-probe ln(mu) terms are 1e9 int64 codes BEFORE the sum "
    "(transcendental-sum house rule), one final division. Probes "
    "with a zero first distance (exact duplicates) are excluded and "
    "counted.",
    tags=("embeddings", "validation", "llm"),
)
def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # normed frame read by the probe slice and both distance passes
    v = emb.select(
        "vec_id",
        "embedding",
        dot_col(F.col("embedding"), F.col("embedding")).alias("sq"),
    ).localCheckpoint(eager=False)
    q = v.where(
        (F.col("vec_id") % IDIM_MOD == 0)
        & (F.col("vec_id") < IDIM_MOD * IDIM_MAXQ)
    )
    qa, vb = q.alias("q"), v.alias("v")
    d2 = F.round(
        F.col("q.sq")
        + F.col("v.sq")
        - 2 * dot_col(F.col("q.embedding"), F.col("v.embedding")),
        12,
    )
    d = (
        F.broadcast(qa)
        .join(vb, F.col("q.vec_id") != F.col("v.vec_id"))
        .select(
            F.col("q.vec_id").alias("probe_id"),
            F.col("v.vec_id").alias("neighbor_id"),
            d2.alias("d2"),
        )
    )
    # Two-NN via scalar HASH aggregates, not a per-probe ROW_NUMBER
    # window (r11): the window shuffled and sorted the full
    # |probes| x N pair set. The ranked rn=1/rn=2 distances only
    # depend on the d2 MULTISET (the neighbor_id tiebreak decides
    # which row is rank 1, never its d2): r1s = min(d2), and r2s is
    # r1s again when the min is tied (>= 2 pairs at r1s) else the min
    # over d2 > r1s. Both aggregates partial-combine map-side, so the
    # shuffle carries one row per probe per partition instead of
    # every pair; the cost is a second distance pass (codegen-bound)
    # against the materialized normed frame.
    firsts = d.groupBy("probe_id").agg(F.min("d2").alias("r1s"))
    mu = (
        d.join(F.broadcast(firsts), "probe_id")
        .groupBy("probe_id")
        .agg(
            F.any_value("r1s").alias("r1s"),
            F.count_if(F.col("d2") == F.col("r1s")).alias("c1"),
            F.min(F.when(F.col("d2") > F.col("r1s"), F.col("d2"))).alias(
                "m2"
            ),
        )
        .select(
            "probe_id",
            "r1s",
            F.when(F.col("c1") >= 2, F.col("r1s"))
            .otherwise(F.col("m2"))
            .alias("r2s"),
        )
    )
    coded = mu.select(
        "r1s",
        F.when(
            F.col("r1s") > 0,
            F.round(1e9 * F.log(F.col("r2s") / F.col("r1s")) / 2).cast(
                "long"
            ),
        ).alias("lnmu_c"),
    )
    return coded.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.count_if(F.col("r1s") <= 0).cast("long").alias("n_degenerate"),
        F.round(
            F.count("lnmu_c")
            * 1e9
            / F.nullif(F.sum("lnmu_c").cast("double"), F.lit(0.0)),
            4,
        ).alias("id_twonn"),
        F.round(
            F.sum("lnmu_c").cast("double")
            / F.nullif(F.count("lnmu_c"), F.lit(0))
            / 1e9,
            6,
        ).alias("mean_log_mu"),
    )
