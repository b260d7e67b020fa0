"""Similarity search over the `embeddings` table (SURVEY §2f #34-36).

- `embedding_near_dup`: all pairs with cosine >= 0.4 — brute-force
  self-join baseline, oracle-checked.
- `ann_cosine_topk`: top-10 neighbors for a fixed query subset
  (vec_id % 50 == 0, capped at MAX_QUERIES ids) — the query side is
  broadcast, so the scan side never shuffles; rank happens after a
  map-side cosine.  The cap keeps the broadcast constant-bounded as
  the table grows; bigger query sets go through ann_ivf instead.
- `ann_lsh`: random-hyperplane LSH bucketing — the 100 TB path:
  candidates only within matching signature bands, cosine evaluated
  on candidates alone. Deterministic hyperplanes from the shared LCG.

Dot products are sequential folds over the vector (zip_with +
aggregate in Spark, index transform + list_reduce in DuckDB): both
engines do the identical IEEE operation sequence, so rounded cosines
hash-match. Norms are computed once per vector in a prior projection.

The no-oracle scale paths (ann_lsh, ann_ivf) run their dense math as
Arrow-batched numpy pandas_udfs instead (see the section comment
below); the expression form stays on the oracle-checkable queries.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

NEAR_DUP_COS = 0.4
TOP_K = 10
QUERY_MOD = 50  # vec_id % 50 == 0 -> 1/50 of vectors are queries
# Hard cap on the broadcast query side: % QUERY_MOD alone selects a
# constant FRACTION of the table, so the broadcast would grow linearly
# with data volume (tens of GB at 100 TB).  vec_id < QUERY_MOD *
# MAX_QUERIES bounds it to <= MAX_QUERIES vectors no matter the scale;
# query sets larger than this belong on the IVF probe-join path.
MAX_QUERIES = 1024
LSH_BITS = 12
LSH_DIM = 64
# Expected vectors per LSH bucket the within-bucket pair join is sized
# for: candidate volume is sum of n_b^2 over buckets, so occupancy must
# stay CONSTANT as the corpus grows — bits grow with log2(n), not fixed.
LSH_TARGET_OCCUPANCY = 8


def lsh_bits_for(n_rows: int) -> int:
    """Signature width so expected bucket occupancy n / 2^bits ~= target.

    With occupancy pinned, total candidate pairs grow linearly in n
    (n/target buckets x target^2 pairs each) instead of quadratically
    (fixed bucket count -> occupancy ~ n -> pairs ~ n^2)."""
    import math

    if n_rows <= LSH_TARGET_OCCUPANCY:
        return 4
    return max(4, min(48, math.ceil(math.log2(n_rows / LSH_TARGET_OCCUPANCY))))


def dot_col(a: Column, b: Column) -> Column:
    """Dot product of two ARRAY columns (double), as the
    zip_with+aggregate fold.

    An unrolled fixed-width element_at chain (64 terms, bit-identical
    add order) was tried across all 27 call sites in r12 and REVERTED
    on measurement: the ~400-node expression defeats whole-stage
    codegen for the ENTIRE stage (WholeStageCodegen disappears from
    the executed plan) and runs ~10x slower than this fold (isolated
    microbench, 2M x 64-dim rows: fold 0.50 s, unrolled-64 4.78 s,
    unrolled-32 2.55 s; ann_cosine_topk 1.46 -> 3.40 s). Same failure
    class as the r11 PQ explicit-chain rejection (§22): on this
    engine version the HOF fold is the fastest exact form."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform("
        f"generate_series(1, len({a})), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
    )


def _with_norm_df(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", "embedding", F.sqrt(dot_col(F.col("embedding"), F.col("embedding"))).alias("nrm")
    )


_WITH_NORM_SQL = f"""
    SELECT vec_id, embedding,
           sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
    FROM embeddings
"""


@register(
    "embedding_near_dup",
    oracle=f"""
        WITH v AS ({_WITH_NORM_SQL})
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) AS cos_sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= {NEAR_DUP_COS}
        ORDER BY vec_a, vec_b
    """,
    doc="Embedding-cosine near-duplicate pairs (>= 0.4), brute-force "
    "baseline for the LSH path.",
    tags=("ann",),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_norm_df(table(spark, sf_dir, "embeddings"))
    a, b = v.alias("a"), v.alias("b")
    cos = dot_col(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("_cos"),
        )
        .where(F.col("_cos") >= NEAR_DUP_COS)
        .select("vec_a", "vec_b", F.round("_cos", 6).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
        WITH v AS ({_WITH_NORM_SQL}),
        q AS (SELECT * FROM v
              WHERE vec_id % {QUERY_MOD} = 0
                AND vec_id < {QUERY_MOD * MAX_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   ROUND({_dot_sql('q.embedding', 'v.embedding')} / (q.nrm * v.nrm), 6) AS cos_sim
            FROM q JOIN v ON q.vec_id <> v.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
            FROM scored
        )
        WHERE rn <= {TOP_K}
        ORDER BY query_id, cos_sim DESC, neighbor_id
    """,
    doc="Brute-force cosine top-10 for query subset (broadcast queries, "
    "map-side scoring, per-query rank).",
    tags=("ann", "bench"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_norm_df(table(spark, sf_dir, "embeddings"))
    q = v.where(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * MAX_QUERIES)
    )
    qa, vb = q.alias("q"), v.alias("v")
    cos = dot_col(F.col("q.embedding"), F.col("v.embedding")) / (
        F.col("q.nrm") * F.col("v.nrm")
    )
    scored = (
        F.broadcast(qa)
        .join(vb, F.col("q.vec_id") != F.col("v.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("v.vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
        .orderBy("query_id", F.col("cos_sim").desc(), "neighbor_id")
    )


def _hyperplanes(bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes from the shared LCG
    (sum of 4 scaled uniforms; no engine RNG involved)."""
    params = H.hash_params(bits * dim * 4, seed=97)
    planes = []
    idx = 0
    for _ in range(bits):
        row = []
        for _ in range(dim):
            u = sum(params[idx + j][0] / H.P for j in range(4)) - 2.0
            idx += 4
            row.append(u)
        planes.append(row)
    return planes


# --- Arrow-batched dense math for the no-oracle scale paths ----------------
#
# The expression-form dot product (zip_with + aggregate) is an
# interpreted higher-order function: ~0.5 us per element, which is the
# whole runtime of the ANN family (measured: 16-cell assignment of
# 2k x 64-dim vectors = 0.86 s).  The oracle-gated queries keep it —
# its left-to-right fold is IEEE-identical to the DuckDB oracle — but
# the approximate paths (ann_lsh, ann_ivf: rows-gated by design) route
# their dense math through Arrow-batched numpy instead: one BLAS matmul
# per batch, ~100x less per-element overhead, deterministic across
# partitionings (numpy reductions are fixed-order per row).


# NOTE: every pandas_udf below is a NESTED function whose closure only
# touches numpy/pandas and plain locals — cloudpickle then ships the
# whole function by value, so executors never need this repo package
# importable on their own sys.path (the round driver runs from an
# arbitrary cwd).


def _cos_udf():
    """pandas_udf: batched cosine between two embedding columns."""

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.asarray([np.asarray(x, dtype=np.float64) for x in a])
        B = np.asarray([np.asarray(x, dtype=np.float64) for x in b])
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    return cos


def _cos_fold_udf():
    """pandas_udf: batched cosine whose every double is bit-identical
    to `_dot_sql(a,b) / (sqrt(_dot_sql(a,a)) * sqrt(_dot_sql(b,b)))`
    — the oracle-fold twin of `_cos_udf` for value-hash-gated paths."""

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.asarray([np.asarray(x, dtype=np.float64) for x in a])
        B = np.asarray([np.asarray(x, dtype=np.float64) for x in b])
        if len(A) == 0:
            return pd.Series([], dtype="float64")
        num = np.zeros(len(A))
        na2 = np.zeros(len(A))
        nb2 = np.zeros(len(A))
        for i in range(A.shape[1]):
            num += A[:, i] * B[:, i]
            na2 += A[:, i] * A[:, i]
            nb2 += B[:, i] * B[:, i]
        return pd.Series(num / (np.sqrt(na2) * np.sqrt(nb2)))

    return cos


def lsh_signatures(
    df: DataFrame, bits: int | None = None, dim: int = LSH_DIM
) -> DataFrame:
    """Attach a random-hyperplane LSH signature column `sig`.

    bits=None derives the width from the actual corpus size via
    `lsh_bits_for` (one count job — row-group metadata only on
    parquet); pass an explicit value for pinned/deterministic gates.
    """
    if bits is None:
        bits = lsh_bits_for(df.count())
    planes = np.asarray(_hyperplanes(bits, dim))
    weights = 1 << np.arange(bits, dtype=np.int64)

    planes_t = planes.T

    @F.pandas_udf("long")
    def sig_udf(emb: pd.Series) -> pd.Series:
        import numpy as np  # self-contained closure (ships by value)

        X = np.asarray([np.asarray(x, dtype=np.float64) for x in emb])
        if len(X) == 0:
            return pd.Series([], dtype="int64")
        # dimension-ordered fold, not BLAS: a BLAS matmul sums in a
        # blocked order whose doubles can differ by ulps from the
        # sequential ((0 + x1*y1) + x2*y2) + ... fold that dot_col and
        # _dot_sql define. Accumulating one dimension at a time keeps
        # each projection double bit-identical, so the sign — and
        # with it every bucket bit — matches the DuckDB oracle.
        acc = np.zeros((X.shape[0], planes_t.shape[1]))
        for i in range(X.shape[1]):
            acc += X[:, i : i + 1] * planes_t[i : i + 1, :]
        b = acc > 0
        return pd.Series((b * weights).sum(axis=1).astype(np.int64))

    return df.select("vec_id", "embedding", sig_udf("embedding").alias("sig"))


def lsh_near_dup(df: DataFrame, bits: int | None = None) -> DataFrame:
    """Within-bucket cosine pairs over LSH signatures (scale path)."""
    v = lsh_signatures(df, bits)
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                _cos_fold_udf()(F.col("a.embedding"), F.col("b.embedding")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
    )


def _planes_sql(bits: int) -> str:
    """The LCG hyperplanes as SQL row literals (repr round-trips the
    exact doubles the Spark path loads into numpy)."""
    return ", ".join(
        f"({b}, [{', '.join(repr(v) for v in vec)}])"
        for b, vec in enumerate(_hyperplanes(bits, LSH_DIM))
    )


def _lsh_sig_ctes(bits: int) -> str:
    """Shared oracle CTEs: hyperplane sign bits -> packed signature ->
    signature + norm per vector. Every double comes from the same
    left-to-right fold the Spark path replays (see lsh_signatures), so signs,
    buckets, and cosines are bit-identical across engines."""
    return f"""
        planes(b, pvec) AS (VALUES {_planes_sql(bits)}),
        sign_bits AS (
            SELECT e.vec_id, p.b,
                   CASE WHEN {_dot_sql("e.embedding", "p.pvec")} > 0
                        THEN 1 ELSE 0 END AS bit
            FROM embeddings e CROSS JOIN planes p
        ),
        sigs AS (
            SELECT vec_id,
                   CAST(SUM(bit * (1::BIGINT << b)) AS BIGINT) AS sig
            FROM sign_bits GROUP BY vec_id
        ),
        v AS (
            SELECT s.vec_id, s.sig, e.embedding,
                   sqrt({_dot_sql("e.embedding", "e.embedding")}) AS nrm
            FROM sigs s JOIN embeddings e USING (vec_id)
        )
    """


@register(
    "ann_lsh",
    oracle=f"""
        WITH {_lsh_sig_ctes(LSH_BITS)}
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({_dot_sql("a.embedding", "b.embedding")}
                     / (a.nrm * b.nrm), 6) AS cos_sim
        FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
        ORDER BY cos_sim DESC, vec_a, vec_b
    """,
    doc="Random-hyperplane LSH ANN: candidates share the full signature "
    "bucket, cosine on candidates only (scale path; signatures and "
    "scoring are Arrow-batched numpy, buckets stay an equi-join). The "
    "registered gate pins bits=12 for determinism; unpinned callers get "
    "bits from lsh_bits_for(n) so bucket occupancy — and with it the "
    "within-bucket pair volume per row — stays constant as data grows. "
    "r11 rows->oracle conversion: the numpy fast path accumulates in "
    "dimension order, making projections, bucket bits, and "
    "cosines bit-identical to the DuckDB fold — the full bucketed "
    "candidate join is now under a value-hash gate, not just the "
    "pinned-plane assignment step.",
    tags=("ann", "scale"),
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_near_dup(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        bits=LSH_BITS,
    )


# --- pinned-hyperplane bucket assignment (the oracle-checkable LSH step) -----
#
# ann_lsh is rows-gated because random-hyperplane recall is
# approximate by design, but its BUCKETING step — sign of x.p folded
# into a band code — is deterministic given the planes. Pinning the
# planes to data-independent dyadic constants puts the sign fold, the
# bit packing, and the bucket-occupancy count under a full value-hash
# oracle (VERDICT r7 #3, the kmeans_assign_pinned playbook): a
# regression in the hyperplane projection or the signature fold is
# caught by the driver, not just pytest.

PIN_LSH_BITS = 8
# dyadic-exact plane coefficients (multiples of 1/1024 in [-0.5, 0.5)):
# each (float->double) * dyadic product is one exactly-rounded IEEE op,
# and the left-to-right dot fold is the same in both engines, so the
# sign — and with it every bucket bit — is bit-identical.
PINNED_PLANES: list[list[float]] = [
    [(((b * 257 + d * 31) % 1024) - 512) / 1024.0 for d in range(LSH_DIM)]
    for b in range(PIN_LSH_BITS)
]

_PIN_PLANES_SQL = ", ".join(
    f"({b}, [{', '.join(repr(v) for v in vec)}])"
    for b, vec in enumerate(PINNED_PLANES)
)


@register(
    "ann_lsh_assign_pinned",
    oracle=f"""
        WITH planes(b, pvec) AS (VALUES {_PIN_PLANES_SQL}),
        bits AS (
            SELECT e.vec_id, p.b,
                   CASE WHEN {_dot_sql("e.embedding", "p.pvec")} > 0
                        THEN 1 ELSE 0 END AS bit
            FROM embeddings e CROSS JOIN planes p
        ),
        sigs AS (
            SELECT vec_id,
                   CAST(SUM(bit * (1::BIGINT << b)) AS BIGINT) AS bucket
            FROM bits GROUP BY vec_id
        )
        SELECT vec_id, bucket,
               CAST(COUNT(*) OVER (PARTITION BY bucket) AS BIGINT)
                   AS bucket_size
        FROM sigs
        ORDER BY vec_id
    """,
    doc=f"Random-hyperplane LSH bucket assignment against PINNED "
    f"dyadic-exact planes ({PIN_LSH_BITS} bits) — the deterministic "
    "bucketing step of ann_lsh under a full value-hash oracle (the "
    "recall-bearing candidate join stays rows-gated in ann_lsh; same "
    "split as kmeans_embeddings / kmeans_assign_pinned). Sign bits "
    "come from the sequential zip_with dot fold (IEEE-identical to "
    "the oracle's list_reduce), pack map-side into one int64 band "
    "code, and the only shuffle is the bounded bucket-occupancy "
    "count — the quantity LSH candidate volume is sized by.",
    tags=("ann",),
)
def ann_lsh_assign_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bucket: Column = F.lit(0).cast("long")
    for b, plane in enumerate(PINNED_PLANES):
        p = F.array(*[F.lit(float(v)) for v in plane])
        bit = (dot_col(F.col("embedding"), p) > 0).cast("long")
        bucket = bucket + bit * F.lit(1 << b)
    sigs = emb.select("vec_id", bucket.alias("bucket"))
    w = Window.partitionBy("bucket")
    return sigs.select(
        "vec_id",
        "bucket",
        F.count(F.lit(1)).over(w).alias("bucket_size"),
    ).orderBy("vec_id")


# --- IVF (inverted-file) ANN ------------------------------------------------

IVF_NLIST = 16   # coarse-quantizer cells (sqrt(n)-ish at test scale)
IVF_NPROBE = 4   # cells probed per query
IVF_ITERS = 4


def ivf_cell_udf(cents: list[list[float]]):
    """pandas_udf assigning each vector its nearest coarse cell.

    ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; the ||x||^2 term is
    constant per row, so argmin/argsort need only the last two."""
    C = np.asarray(cents)
    c_sq = (C * C).sum(axis=1)

    @F.pandas_udf("int")
    def cell_udf(emb: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in emb])
        d = c_sq - 2.0 * (X @ C.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return cell_udf


def ivf_probe_udf(cents: list[list[float]]):
    """pandas_udf returning each query's IVF_NPROBE nearest cell ids."""
    C = np.asarray(cents)
    c_sq = (C * C).sum(axis=1)

    @F.pandas_udf("array<int>")
    def probe_udf(emb: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in emb])
        d = c_sq - 2.0 * (X @ C.T)
        # stable sort: equidistant cells resolve to the lowest id in
        # every batch, keeping output partitioning-independent
        order = np.argsort(d, axis=1, kind="stable")[:, :IVF_NPROBE]
        return pd.Series(list(order.astype(np.int32)))

    return probe_udf


def build_ivf_index(
    v: DataFrame,
) -> tuple[DataFrame | None, list[list[float]]]:
    """Coarse-quantize a (vec_id, embedding) table: returns (inverted
    lists with a `cluster` column, centroids). (None, []) on empty
    input."""
    from mvrs_dspa_spark.operators.clustering import kmeans_fit

    cents = kmeans_fit(
        v, "embedding", k=IVF_NLIST, iters=IVF_ITERS, id_col="vec_id"
    )
    if not cents:
        return None, []
    cell = ivf_cell_udf(cents)("embedding")
    lists = v.select("vec_id", "embedding", cell.alias("cluster"))
    return lists, cents


def build_ivf_index_exact(
    v: DataFrame,
) -> tuple[DataFrame | None, list[list[int]]]:
    """build_ivf_index on the exact integer grid (r11 ann_ivf
    rows->oracle conversion): the coarse quantizer is
    `kmeans_fit_exact`, so the fitted cells and every list assignment
    are bit-identical to the unrolled DuckDB Lloyd. The float path
    stays for ann_ivf_pq / ann_index_maintenance / the streaming ANN."""
    from mvrs_dspa_spark.operators.clustering import (
        assign_clusters_exact,
        kmeans_fit_exact,
    )

    cents = kmeans_fit_exact(
        v, "embedding", k=IVF_NLIST, iters=IVF_ITERS, id_col="vec_id"
    )
    if not cents:
        return None, []
    lists = assign_clusters_exact(v, "embedding", cents).select(
        "vec_id", "embedding", "cluster"
    )
    return lists, cents


def ivf_probe_udf_exact(cents: list[list[int]]):
    """pandas_udf: each query's IVF_NPROBE nearest cells on the integer
    grid — exact int64 distances, stable argsort (equidistant cells
    resolve to the lowest id), matching the oracle's
    ORDER BY (d2, c) row_number rank."""
    from mvrs_dspa_spark.operators.clustering import Q_SCALE

    cents_l = [[int(x) for x in c] for c in cents]
    scale = float(Q_SCALE)

    @F.pandas_udf("array<int>")
    def probe_udf(emb: pd.Series) -> pd.Series:
        import numpy as np

        C = np.asarray(cents_l, dtype=np.int64)
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in emb])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        Q = np.floor(X * scale + 0.5).astype(np.int64)
        # ||q-c||^2 ordering == (||c||^2 - 2 q.c) ordering (the ||q||^2
        # term is constant per row); all int64-exact
        d = (C * C).sum(axis=1)[None, :] - 2 * (Q @ C.T)
        order = np.argsort(d, axis=1, kind="stable")[:, :IVF_NPROBE]
        return pd.Series(list(order.astype(np.int32)))

    return probe_udf


def _ivf_oracle() -> str:
    """The full IVF pipeline as one oracle: unrolled integer Lloyd ->
    inverted lists -> nprobe probe rank -> fold-order cosine -> top-K.
    A (query, neighbor) pair appears at most once: each neighbor lives
    in exactly one list cell, and the probe set is distinct cells."""
    from mvrs_dspa_spark.operators.clustering import (
        _kmeans_idist_sql,
        kmeans_exact_ctes,
    )

    k, iters, dim = IVF_NLIST, IVF_ITERS, LSH_DIM
    idist = _kmeans_idist_sql(dim)
    parts = kmeans_exact_ctes(k, iters, dim)
    parts.append(
        f"""lists AS MATERIALIZED (
            SELECT vec_id, CAST(MIN(dkey) % {k} AS INTEGER) AS cluster
            FROM (SELECT q.vec_id, {idist} * {k} + c.c AS dkey
                  FROM q CROSS JOIN c{iters} c)
            GROUP BY vec_id
        )"""
    )
    parts.append(
        f"""probes AS MATERIALIZED (
            SELECT vec_id, cluster FROM (
                SELECT q.vec_id, c.c AS cluster,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {idist}, c.c) AS rk
                FROM q CROSS JOIN c{iters} c
                WHERE q.vec_id % {QUERY_MOD} = 0
            ) WHERE rk <= {IVF_NPROBE}
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
        scored AS (
            SELECT p.vec_id AS query_id, l.vec_id AS neighbor_id,
                   ROUND({_dot_sql("a.embedding", "b.embedding")}
                         / (a.nrm * b.nrm), 6) AS cos_sim
            FROM probes p
            JOIN lists l ON l.cluster = p.cluster AND l.vec_id <> p.vec_id
            JOIN vn a ON a.vec_id = p.vec_id
            JOIN vn b ON b.vec_id = l.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim FROM (
            SELECT scored.*, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= {TOP_K}
        ORDER BY query_id, cos_sim DESC, neighbor_id
    """



@register(
    "ann_ivf",
    oracle=_ivf_oracle(),
    doc="IVF ANN: k-means coarse quantizer (nlist=16) builds inverted "
    "lists; each query probes its 4 nearest cells and scores exact "
    "cosine inside them. Candidate generation is an equi-join on the "
    "cell id — shuffle volume is data x nprobe/nlist, the standard "
    "billion-scale ANN layout (FAISS IVF flat, re-expressed on "
    "DataFrames). Cell assignment and scoring are Arrow-batched numpy "
    "(one matmul per batch); the join/shuffle layer stays JVM-side. "
    "r11 rows->oracle conversion: the coarse quantizer is the exact "
    "integer-grid Lloyd (kmeans_fit_exact), probe ranking is exact "
    "int64 with lowest-cell tie-break, and scoring is the fold-order "
    "cosine — the whole probe-join pipeline value-hash-matches the "
    "unrolled DuckDB oracle.",
    tags=("ann", "scale"),
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lists, cents = build_ivf_index_exact(v)
    if lists is None:  # empty slice in -> empty result out
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double"
        )
    probes = (
        v.where(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            "vec_id",
            "embedding",
            F.explode(ivf_probe_udf_exact(cents)("embedding")).alias(
                "cluster"
            ),
        )
    )

    q, cand = probes.alias("q"), lists.alias("v")
    scored = (
        q.join(cand, (F.col("q.cluster") == F.col("v.cluster")))
        .where(F.col("q.vec_id") != F.col("v.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("v.vec_id").alias("neighbor_id"),
            F.round(
                _cos_fold_udf()(F.col("q.embedding"), F.col("v.embedding")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
        .orderBy("query_id", F.col("cos_sim").desc(), "neighbor_id")
    )


# --- banded (OR-construction) hyperplane LSH --------------------------------
#
# A SINGLE full-signature table (lsh_near_dup above) only recalls
# near-identical vectors: per-bit agreement for cosine s is
# p = 1 - acos(s)/pi, so a 12-bit exact match at s=0.45 fires with
# p^12 ~ 0.5%. The standard fix is the same OR-construction MinHash
# banding uses: split the signature into n_bands bands of band_bits
# and take candidates that agree on ANY band — recall
# 1 - (1 - p^band_bits)^n_bands. At s=0.45 (p~0.65), 8 bands x 4 bits
# give ~0.79 expected recall; random pairs (p=0.5) collide on a band
# with 1/16, so candidate volume is a constant fraction per band —
# hyperplane LSH genuinely stops being sublinear this close to
# random, which is WHY the high-similarity dedup configs use the
# full-signature form and low thresholds belong to IVF. The banded
# form is the honest middle: tunable recall with exact-cosine
# verification, still an equi-join.

LSH_BAND_BITS = 4
LSH_N_BANDS = 8


def lsh_near_dup_banded(df: DataFrame) -> DataFrame:
    """Near-dup pairs via banded hyperplane LSH: candidates share at
    least one signature band, exact cosine verifies (no false
    positives; recall set by (LSH_BAND_BITS, LSH_N_BANDS)).

    Scoring is BUCKET-LOCAL: one applyInPandas over (band, bsig)
    groups does the within-bucket all-pairs cosine as a single numpy
    matmul. The alternative — a pair self-join scored per row — ships
    BOTH embedding vectors through Arrow once per candidate pair; at
    this band density (p_rand/band = 2^-band_bits) candidates are a
    constant fraction of all pairs, so that's pairs x 2 x dim doubles
    of transfer vs rows x bands here. Measured 4.65 s -> 0.78 s at
    sf0.1 (same 727 pairs)."""
    v = lsh_signatures(df, bits=LSH_BAND_BITS * LSH_N_BANDS)
    mask = (1 << LSH_BAND_BITS) - 1
    banded = v.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright("sig", j * LSH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("bsig"),
                    )
                    for j in range(LSH_N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "embedding", "bk.band", "bk.bsig")

    thr = float(NEAR_DUP_COS)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # self-contained closure

        empty = pd.DataFrame(
            {"vec_a": [], "vec_b": [], "cos_sim": []}
        ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        X = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
        )
        # dimension-ordered fold (see lsh_signatures): the numerator matrix
        # and the fold-of-squares norms are bit-identical to the
        # _dot_sql oracle, so the raw-threshold filter and the
        # reported cosine agree with DuckDB double-for-double.
        acc = np.zeros((len(ids), len(ids)))
        n2 = np.zeros(len(ids))
        for i in range(X.shape[1]):
            acc += X[:, i : i + 1] * X[:, i][None, :]
            n2 += X[:, i] * X[:, i]
        n = np.sqrt(n2)
        C = acc / np.outer(n, n)
        ia, ib = np.triu_indices(len(ids), k=1)
        cos = C[ia, ib]
        # threshold on the RAW double (matching embedding_near_dup's
        # unrounded WHERE) — the subset-of-exact-pairs property is
        # then exact, not just 6-decimal-approximate
        keep = cos >= thr
        return pd.DataFrame(
            {
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "cos_sim": cos[keep],
            }
        )

    pairs = banded.groupBy("band", "bsig").applyInPandas(
        bucket_pairs, "vec_a long, vec_b long, cos_sim double"
    )
    # a pair found in several bands carries the identical raw cosine
    # (pure function of the two vectors); round once, JVM-side, with
    # the same HALF_UP the oracle's ROUND uses
    return (
        pairs.groupBy("vec_a", "vec_b")
        .agg(F.round(F.first("cos_sim"), 6).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


@register(
    "ann_lsh_banded",
    oracle=f"""
        WITH {_lsh_sig_ctes(LSH_BAND_BITS * LSH_N_BANDS)},
        bands AS (
            SELECT vec_id,
                   (sig >> (bnd.band * {LSH_BAND_BITS}))
                       & {(1 << LSH_BAND_BITS) - 1} AS bsig,
                   bnd.band
            FROM v,
                 (SELECT unnest(generate_series(0, {LSH_N_BANDS - 1}))
                      AS band) bnd
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
                 AND a.vec_id < b.vec_id
        ),
        scored AS (
            SELECT c.va, c.vb,
                   {_dot_sql("a.embedding", "b.embedding")}
                       / (a.nrm * b.nrm) AS cs
            FROM cand c
            JOIN v a ON a.vec_id = c.va
            JOIN v b ON b.vec_id = c.vb
        )
        SELECT va AS vec_a, vb AS vec_b, ROUND(cs, 6) AS cos_sim
        FROM scored WHERE cs >= {NEAR_DUP_COS}
        ORDER BY vec_a, vec_b
    """,
    doc="Banded hyperplane LSH near-dup (8 bands x 4 bits, "
    "OR-construction): recalls moderate-cosine pairs a single "
    "full-signature table cannot (measured ~0.8 vs 0.0 at the 0.4 "
    "threshold on the gate corpus); exact cosine verification keeps "
    "precision 1.0. Candidates stay an equi-join on (band, band-sig). "
    "r11 rows->oracle conversion: bucket-local scoring accumulates in "
    "dimension order and thresholds the RAW double exactly "
    "like embedding_near_dup's WHERE, so the pair set and every "
    "6-decimal cosine value-hash-match the DuckDB band-join oracle.",
    tags=("ann", "scale"),
)
def ann_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_near_dup_banded(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )


def _quality_oracle() -> str:
    """Composes the REGISTERED oracles of the methods it evaluates
    (each wrapped as a derived table, so the report's ground truths
    are definitionally the same queries the driver already gates):
    possible only now that every component — brute-force truth, IVF,
    both LSH variants — is itself value-hash-exact (r11)."""
    from mvrs_dspa_spark.plans.registry import _REGISTRY

    topk = _REGISTRY["ann_cosine_topk"].oracle
    ivf = _REGISTRY["ann_ivf"].oracle
    truth = _REGISTRY["embedding_near_dup"].oracle
    lshf = _REGISTRY["ann_lsh"].oracle
    lshb = _REGISTRY["ann_lsh_banded"].oracle
    pair_hits = (
        "SELECT COUNT(*) FROM {m} s WHERE EXISTS (SELECT 1 FROM truth t "
        "WHERE t.vec_a = s.vec_a AND t.vec_b = s.vec_b)"
    )
    return f"""
        WITH exact_topk AS MATERIALIZED (SELECT * FROM ({topk})),
        ivf AS MATERIALIZED (SELECT * FROM ({ivf})),
        truth AS MATERIALIZED (
            SELECT vec_a, vec_b FROM ({truth})
        ),
        lshf AS MATERIALIZED (
            SELECT vec_a, vec_b FROM ({lshf}) WHERE cos_sim >= {NEAR_DUP_COS}
        ),
        lshb AS MATERIALIZED (SELECT vec_a, vec_b FROM ({lshb})),
        qs AS (SELECT DISTINCT query_id FROM exact_topk),
        ivfq AS (
            SELECT i.query_id, i.neighbor_id
            FROM ivf i JOIN qs USING (query_id)
        ),
        raw(method, n_truth, n_retrieved, n_hits) AS (
            SELECT 'lsh_fullsig',
                   (SELECT COUNT(*) FROM truth),
                   (SELECT COUNT(*) FROM lshf),
                   ({pair_hits.format(m='lshf')})
            UNION ALL
            SELECT 'lsh_banded',
                   (SELECT COUNT(*) FROM truth),
                   (SELECT COUNT(*) FROM lshb),
                   ({pair_hits.format(m='lshb')})
            UNION ALL
            SELECT 'ivf_top10',
                   (SELECT COUNT(*) FROM exact_topk),
                   (SELECT COUNT(*) FROM ivfq),
                   (SELECT COUNT(*) FROM ivfq i WHERE EXISTS (
                        SELECT 1 FROM exact_topk e
                        WHERE e.query_id = i.query_id
                          AND e.neighbor_id = i.neighbor_id))
        )
        SELECT method,
               CAST(n_truth AS BIGINT) AS n_truth,
               CAST(n_retrieved AS BIGINT) AS n_retrieved,
               CAST(n_hits AS BIGINT) AS n_hits,
               CASE WHEN n_truth > 0
                    THEN ROUND(n_hits / n_truth, 4) END AS recall
        FROM raw
        ORDER BY method
    """


@register(
    "ann_quality_report",
    oracle=_quality_oracle(),
    doc="ANN evaluation harness: recall of each approximate method "
    "against its exact ground truth — ann_ivf top-10 vs brute-force "
    "top-10, full-signature LSH and banded LSH pair sets vs the exact "
    "cos>=0.4 pair set. The report a pipeline owner reads before "
    "trusting an index config; composes the registered definitions. "
    "r11 rows->oracle conversion: every component became value-hash-"
    "exact this round, so the report itself is now under a full "
    "oracle that composes the components' REGISTERED oracle texts.",
    tags=("ann", "llm"),
)
def ann_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact_topk = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    qs = exact_topk.select("query_id").distinct()
    ivf_hits = (
        ivf.join(qs, "query_id", "semi")
        .join(exact_topk, ["query_id", "neighbor_id"], "semi")
        .count()
    )
    ivf_retrieved = ivf.join(qs, "query_id", "semi").count()
    topk_truth = exact_topk.count()

    truth = embedding_near_dup(spark, sf_dir).select("vec_a", "vec_b")
    n_truth = truth.count()
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = []
    for method, pair_df in (
        ("lsh_fullsig", lsh_near_dup(emb, bits=LSH_BITS).where(
            F.col("cos_sim") >= NEAR_DUP_COS)),
        ("lsh_banded", lsh_near_dup_banded(emb)),
    ):
        p = pair_df.select("vec_a", "vec_b")
        rows.append(
            (
                method,
                n_truth,
                p.count(),
                p.join(truth, ["vec_a", "vec_b"], "semi").count(),
            )
        )
    rows.append(("ivf_top10", topk_truth, ivf_retrieved, ivf_hits))
    out = spark.createDataFrame(
        rows, "method string, n_truth long, n_retrieved long, n_hits long"
    )
    recall = F.when(
        F.col("n_truth") > 0,
        F.round(F.col("n_hits") / F.col("n_truth"), 4),
    )  # empty ground truth (empty slice): recall undefined -> NULL
    return out.select(
        "method", "n_truth", "n_retrieved", "n_hits", recall.alias("recall")
    ).orderBy("method")


# --- IVF-PQ: compressed-domain ANN (FAISS IVFPQ layout) ---------------------


def _residual_exact_udf(cents: list[list[int]]):
    """Residual on the integer grid, expressed as EXACT dyadic doubles
    (int / 2^20): |resid_int| < 2^22 so every element round-trips
    bit-perfectly through the standard floor(x * 2^20 + 0.5)
    quantization — the downstream pq_fit_exact / pq_encode_exact and
    the oracle's resid CTE all recover the identical integers."""
    cents_l = [[int(x) for x in c] for c in cents]
    from mvrs_dspa_spark.operators.clustering import Q_SCALE

    scale = float(Q_SCALE)

    @F.pandas_udf("array<double>")
    def resid(emb: pd.Series, cluster: pd.Series) -> pd.Series:
        import numpy as np

        C = np.asarray(cents_l, dtype=np.int64)
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in emb])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        qi = np.floor(X * scale + 0.5).astype(np.int64)
        out = (qi - C[cluster.to_numpy()]).astype(np.float64) / scale
        return pd.Series(list(out))

    return resid


ANN_PQ_M = 16          # finer than storage-PQ (sub=4 dims at d=64)
ANN_PQ_K = 16
REFINE_SHORTLIST = 40  # ADC shortlist re-ranked exactly (FAISS refine)


def _ivf_pq_oracle() -> str:
    """The full IVF-PQ + refine pipeline as one oracle: coarse Lloyd
    -> integer residuals (exact dyadic doubles in the resid CTE, so
    the per-subspace quantization recovers the identical integers) ->
    16 prefixed sub-codebook Lloyd unrolls -> integer ADC -> 40-row
    shortlist -> exact double-fold L2 re-rank -> top-10."""
    from mvrs_dspa_spark.operators.clustering import (
        ITERS,
        Q_SCALE,
        _kmeans_idist_sql,
        kmeans_exact_ctes,
    )

    d, m = LSH_DIM, ANN_PQ_M
    sub = d // m
    scale = float(Q_SCALE)
    idist64 = _kmeans_idist_sql(d)
    idist_sub = _kmeans_idist_sql(sub)
    parts = kmeans_exact_ctes(IVF_NLIST, IVF_ITERS, d)
    parts.append(
        f"""lists AS MATERIALIZED (
            SELECT vec_id, CAST(MIN(dkey) % {IVF_NLIST} AS INTEGER)
                       AS cluster
            FROM (SELECT q.vec_id, {idist64} * {IVF_NLIST} + c.c AS dkey
                  FROM q q CROSS JOIN c{IVF_ITERS} c)
            GROUP BY vec_id
        )"""
    )
    parts.append(
        f"""resid AS MATERIALIZED (
            SELECT l.vec_id,
                   list_transform(generate_series(1, {d}),
                       i -> CAST(q.qe[i] - cv.cvec[i] AS DOUBLE)
                            / {scale}) AS res
            FROM lists l
            JOIN q ON q.vec_id = l.vec_id
            JOIN c{IVF_ITERS} cv ON cv.c = l.cluster
        )"""
    )
    for j in range(m):
        parts.extend(
            kmeans_exact_ctes(
                ANN_PQ_K,
                ITERS,
                sub,
                prefix=f"p{j}_",
                vec_sql=f"res[{j * sub + 1}:{(j + 1) * sub}]",
                source="resid",
            )
        )
        parts.append(
            f"""p{j}_fin AS MATERIALIZED (
            SELECT vec_id, CAST(MIN(dkey) % {ANN_PQ_K} AS INTEGER) AS code
            FROM (SELECT q.vec_id, {idist_sub} * {ANN_PQ_K} + c.c AS dkey
                  FROM p{j}_q q CROSS JOIN p{j}_c{ITERS} c)
            GROUP BY vec_id
        )"""
        )
    parts.append(
        f"""qprobes AS MATERIALIZED (
            SELECT vec_id, cluster FROM (
                SELECT q.vec_id, c.c AS cluster,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {idist64}, c.c) AS rk
                FROM q q CROSS JOIN c{IVF_ITERS} c
                WHERE q.vec_id % {QUERY_MOD} = 0
                  AND q.vec_id < {QUERY_MOD * MAX_QUERIES}
            ) WHERE rk <= {IVF_NPROBE}
        )"""
    )
    # ADC: per (query, candidate) sum of 16 subspace folds over
    # (query residual element - candidate's code centroid element)
    adc_terms = " + ".join(
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(generate_series(1, {sub}), "
        f"i -> (q.qe[{j * sub}+i] - cc.cvec[{j * sub}+i] - b{j}.cvec[i])"
        f" * (q.qe[{j * sub}+i] - cc.cvec[{j * sub}+i] - b{j}.cvec[i]))), "
        "(x, y) -> x + y)"
        for j in range(m)
    )
    code_joins = " ".join(
        f"JOIN p{j}_fin f{j} ON f{j}.vec_id = l.vec_id "
        f"JOIN p{j}_c{ITERS} b{j} ON b{j}.c = f{j}.code"
        for j in range(m)
    )
    parts.append(
        f"""adc AS MATERIALIZED (
            SELECT p.vec_id AS query_id, l.vec_id AS neighbor_id,
                   {adc_terms} AS approx_d
            FROM qprobes p
            JOIN q ON q.vec_id = p.vec_id
            JOIN c{IVF_ITERS} cc ON cc.c = p.cluster
            JOIN lists l ON l.cluster = p.cluster
                 AND l.vec_id <> p.vec_id
            {code_joins}
        )"""
    )
    l2 = (
        "list_reduce(list_prepend(0.0, "
        f"list_transform(generate_series(1, {d}), "
        "i -> (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)"
        " * (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE))), "
        "(x, y) -> x + y)"
    )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes},
        short AS (
            SELECT query_id, neighbor_id FROM (
                SELECT adc.*, row_number() OVER (PARTITION BY query_id
                    ORDER BY approx_d, neighbor_id) AS rn
                FROM adc
            ) WHERE rn <= {REFINE_SHORTLIST}
        ),
        ref AS (
            SELECT s.query_id, s.neighbor_id, {l2} AS dist
            FROM short s
            JOIN embeddings a ON a.vec_id = s.query_id
            JOIN embeddings b ON b.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, ROUND(dist, 6) AS dist FROM (
            SELECT ref.*, row_number() OVER (PARTITION BY query_id
                ORDER BY dist, neighbor_id) AS rn
            FROM ref
        ) WHERE rn <= {TOP_K}
        ORDER BY query_id, dist, neighbor_id
    """


@register(
    "ann_ivf_pq",
    oracle=_ivf_pq_oracle(),
    doc="IVF-PQ ANN with exact refine (the FAISS IVFPQ+refine layout, "
    "Jégou et al. 2011): the coarse quantizer routes vectors to "
    "inverted lists, each vector's RESIDUAL from its cell centroid is "
    "product-quantized, queries score candidates in the COMPRESSED "
    "domain (asymmetric distance: query residual vs code centroids — "
    "a per-batch numpy gather; no original candidate vectors cross "
    "the probe join, so its shuffle carries m small ints per row "
    "instead of d floats, ~d/m less on top of IVF's nprobe/nlist "
    "factor), and only the bounded ADC shortlist (queries x 40 rows) "
    "joins original vectors back for an exact L2 re-rank. Measured at "
    "sf0.01: refined recall@10 equals IVF-FLAT's within 0.02 — the "
    "compression is free at serving time, which is the whole point. "
    "Composes build_ivf_index_exact with embeddings.pq_fit_exact/"
    "pq_encode_exact. r11 rows->oracle conversion: residuals live on "
    "the integer grid (exact dyadic doubles that round-trip the "
    "standard quantization), sub-codebooks are 16 exact per-slice "
    "Lloyd fits, ADC is pure int64, and the refine is a double-cast "
    "fold — the whole compressed-domain pipeline value-hash-matches "
    "the unrolled DuckDB oracle. Recall floor + parity-vs-ivf-flat + "
    "determinism stay in tests/test_ann.py.",
    tags=("ann", "scale"),
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mvrs_dspa_spark.operators.clustering import Q_SCALE
    from mvrs_dspa_spark.operators.embeddings import (
        pq_encode_exact,
        pq_fit_exact,
    )

    empty = "query_id long, neighbor_id long, approx_d long"
    out_schema = "query_id long, neighbor_id long, dist double"
    v = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lists, cents = build_ivf_index_exact(v)
    if lists is None:
        return spark.createDataFrame([], out_schema)
    resid = lists.withColumn(
        "res", _residual_exact_udf(cents)("embedding", "cluster")
    )
    books = pq_fit_exact(resid, vec_col="res", m=ANN_PQ_M, k=ANN_PQ_K)
    if books is None:
        return spark.createDataFrame([], out_schema)
    index = pq_encode_exact(resid, books, vec_col="res").select(
        "vec_id", "cluster", F.col("_pq.codes").alias("codes")
    )
    probes = (
        v.where(
            (F.col("vec_id") % QUERY_MOD == 0)
            & (F.col("vec_id") < QUERY_MOD * MAX_QUERIES)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(ivf_probe_udf_exact(cents)("embedding")).alias(
                "cluster"
            ),
        )
    )
    joined = probes.join(index, "cluster").where(
        F.col("query_id") != F.col("vec_id")
    )

    cents_l = [[int(x) for x in c] for c in cents]
    books_l = [[[int(x) for x in c] for c in b] for b in books]
    scale = float(Q_SCALE)

    def adc(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents_l, dtype=np.int64)
        B = [np.asarray(b, dtype=np.int64) for b in books_l]
        m = len(B)
        for pdf in batches:
            if not len(pdf):
                continue
            qf = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf["q_emb"]]
            )
            qi = np.floor(qf * scale + 0.5).astype(np.int64)
            codes = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            qres = qi - C[pdf["cluster"].to_numpy()]
            sub = qres.shape[1] // m
            d = np.zeros(len(pdf), dtype=np.int64)
            for j, cb in enumerate(B):
                diff = qres[:, j * sub : (j + 1) * sub] - cb[codes[:, j]]
                d += (diff * diff).sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["vec_id"],
                    "approx_d": d,
                }
            )

    scored = joined.select(
        "query_id", "q_emb", "cluster", "vec_id", "codes"
    ).mapInPandas(adc, schema=empty)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d").asc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= REFINE_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # refine: ONLY the bounded shortlist joins original vectors back;
    # exact squared-L2 via a JVM-side fold (deterministic order)
    qv = v.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    nv = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    # double-cast fold: bit-identical to the oracle's ::DOUBLE l2 fold
    # (uncast float32 subtraction would round differently)
    exact_d = F.aggregate(
        F.zip_with(
            "qe",
            "ne",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    refined = (
        shortlist.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", exact_d.alias("dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id")
    )
    return (
        refined.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("dist", 6).alias("dist"))
        .orderBy("query_id", "dist", "neighbor_id")
    )


# --- incremental index maintenance -----------------------------------------

ANN_INCR_MOD = 4   # vec_id % 4 == 0 -> incoming delta; rest -> base corpus
REFIT_GROWTH = 2.0  # cell flagged when delta doubles its population
REFIT_DIST = 1.5    # ...or delta vectors sit 1.5x further from the centroid


def _maintenance_oracle() -> str:
    """Exact-grid mirror of ann_index_maintenance: the quantizer fits
    on the base slice (unrolled Lloyd, lowest-vec_id init), every
    vector assigns into the final cells, and per-cell means are ONE
    division of an exact int64 distance sum (never AVG of doubles —
    the r6 haversine rule)."""
    from mvrs_dspa_spark.operators.clustering import (
        Q_SCALE,
        _kmeans_idist_sql,
        kmeans_exact_ctes,
    )

    k, iters, dim = IVF_NLIST, IVF_ITERS, LSH_DIM
    idist = _kmeans_idist_sql(dim)
    q2 = float(Q_SCALE) ** 2
    parts = kmeans_exact_ctes(
        k, iters, dim, where=f"vec_id % {ANN_INCR_MOD} != 0"
    )
    parts.append(
        f"""qall AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(x::DOUBLE * {Q_SCALE} + 0.5)
                                 AS BIGINT)) AS qe
            FROM embeddings
        )"""
    )
    parts.append(
        f"""astats AS MATERIALIZED (
            SELECT vec_id,
                   CAST(MIN(dkey) % {k} AS INTEGER) AS cluster,
                   MIN(dkey) // {k} AS d2
            FROM (SELECT q.vec_id, {idist} * {k} + c.c AS dkey
                  FROM qall q CROSS JOIN c{iters} c)
            GROUP BY vec_id
        )"""
    )
    for name, cmp in (("base_s", "!="), ("delta_s", "=")):
        parts.append(
            f"""{name} AS (
            SELECT cluster, COUNT(*) AS n,
                   CAST(CAST(SUM(d2) AS BIGINT) AS DOUBLE)
                       / COUNT(*) / {q2} AS md
            FROM astats WHERE vec_id % {ANN_INCR_MOD} {cmp} 0
            GROUP BY cluster
        )"""
        )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes}
        SELECT COALESCE(b.cluster, d.cluster) AS cluster,
               COALESCE(b.n, 0) AS n_base,
               COALESCE(d.n, 0) AS n_delta,
               ROUND(b.md, 6) AS mean_dist_base,
               ROUND(d.md, 6) AS mean_dist_delta,
               COALESCE(
                   (COALESCE(d.n, 0) > {REFIT_GROWTH}
                        * GREATEST(COALESCE(b.n, 0), 1))
                   OR (d.md > {REFIT_DIST} * COALESCE(b.md, 0.0)),
                   FALSE) AS needs_refit
        FROM base_s b FULL JOIN delta_s d ON b.cluster = d.cluster
        ORDER BY cluster
    """


@register(
    "ann_index_maintenance",
    oracle=_maintenance_oracle(),
    doc="Incremental IVF index maintenance (the recurring-ingest ANN "
    "shape, FAISS add-after-train): the base corpus (vec_id % "
    f"{ANN_INCR_MOD} != 0) trains the coarse quantizer ONCE; the "
    "delta batch is assigned into the EXISTING cells — one Arrow "
    "matmul per batch, no refit, no base rescan beyond its own "
    "assignment pass. Emits per-cell base/delta counts, mean "
    "centroid distances, and a needs_refit flag (population growth "
    f"> {REFIT_GROWTH}x or delta mean distance > {REFIT_DIST}x "
    "base's) — the monitoring signal that tells an index owner WHEN "
    "the quantizer has drifted enough to warrant retraining, instead "
    "of refitting every ingest. Output is nlist rows; all corpus-"
    "sized work is two narrow assignment projections + one "
    "cell-bounded aggregation. r11 rows->oracle conversion: the "
    "quantizer is the exact integer-grid fit (lowest-vec_id init, "
    "was lexicographic-embedding init), distances are exact int64, "
    "and each cell mean is one division of the exact distance sum.",
    tags=("ann", "scale"),
)
def ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = v.where(F.col("vec_id") % ANN_INCR_MOD != 0)
    from mvrs_dspa_spark.operators.clustering import kmeans_fit_exact

    cents = kmeans_fit_exact(
        base, "embedding", k=IVF_NLIST, iters=IVF_ITERS, id_col="vec_id"
    )
    if not cents:
        return spark.createDataFrame(
            [],
            "cluster int, n_base long, n_delta long, mean_dist_base double,"
            " mean_dist_delta double, needs_refit boolean",
        )
    return maintenance_report_from_stats(maintenance_cell_stats(v, cents))


def maintenance_cell_stats(df: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(cluster, is_base, n, s_d2): exact int64 per-cell count +
    squared-distance sum against the FIXED quantizer. ADDITIVE in the
    rows, so the streaming maintainer (29as) merges these deltas
    across micro-batches — and SUBTRACTS them for per-vector
    erasure — and the shared tail below serves the identical report."""
    from mvrs_dspa_spark.operators.clustering import assign_clusters_exact

    a = assign_clusters_exact(df, "embedding", cents)
    return a.groupBy(
        "cluster", (F.col("vec_id") % ANN_INCR_MOD != 0).alias("is_base")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sq_dist_q").alias("s_d2"),
    )


def maintenance_report_from_stats(stats: DataFrame) -> DataFrame:
    """Shared serving tail: per-cell means are ONE division of the
    exact int64 distance sum (never AVG of doubles), then the
    growth/drift refit flags."""
    from mvrs_dspa_spark.operators.clustering import Q_SCALE

    q2 = float(Q_SCALE) ** 2

    def side(is_base: bool, prefix: str) -> DataFrame:
        return stats.where(F.col("is_base") == is_base).select(
            "cluster",
            F.col("n").alias(f"n_{prefix}"),
            (F.col("s_d2").cast("double") / F.col("n") / F.lit(q2)).alias(
                f"mean_dist_{prefix}"
            ),
        )

    merged = (
        side(True, "base")
        .join(side(False, "delta"), "cluster", "full")
        .na.fill({"n_base": 0, "n_delta": 0})
    )
    needs_refit = (
        F.col("n_delta") > REFIT_GROWTH * F.greatest(F.col("n_base"), F.lit(1))
    ) | (
        F.col("mean_dist_delta")
        > REFIT_DIST * F.coalesce("mean_dist_base", F.lit(0.0))
    )
    return merged.select(
        "cluster",
        "n_base",
        "n_delta",
        F.round("mean_dist_base", 6).alias("mean_dist_base"),
        F.round("mean_dist_delta", 6).alias("mean_dist_delta"),
        F.coalesce(needs_refit, F.lit(False)).alias("needs_refit"),
    ).orderBy("cluster")


# --- IVF index persistence --------------------------------------------------


def save_ivf_index(
    lists: DataFrame, cents: list[list[float]], path: str
) -> None:
    """Persist an IVF index in the serving layout: inverted lists as
    parquet PARTITIONED BY cluster (probing nprobe cells then reads
    only those directories — partition pruning does the cell
    selection before any I/O), centroids as one tiny parquet.

    This is the build-once/serve-many shape (FAISS write_index): the
    expensive k-means fit amortizes over every later query batch, and
    `ann_index_maintenance` decides when it must be redone."""
    spark = lists.sparkSession
    (
        lists.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path}/lists")
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def load_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[list[float]]]:
    """Load a persisted IVF index: (inverted lists, centroids)."""
    lists = spark.read.parquet(f"{path}/lists")
    cents_rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    )
    return lists, [list(r.centroid) for r in cents_rows]


def ivf_query(
    lists: DataFrame,
    cents: list[list[float]],
    queries: DataFrame,
) -> DataFrame:
    """Probe an IVF index (fresh or loaded) with a query table
    (vec_id, embedding): per query, exact cosine inside its IVF_NPROBE
    nearest cells, top TOP_K. The cluster equi-join against the
    cell-partitioned lists prunes partitions before scanning."""
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(ivf_probe_udf(cents)("embedding")).alias("cluster"),
    )
    joined = probes.join(lists.alias("v"), "cluster").where(
        F.col("query_id") != F.col("v.vec_id")
    )
    cos = _cos_udf()
    scored = joined.select(
        "query_id",
        F.col("v.vec_id").alias("neighbor_id"),
        F.round(cos(F.col("q_emb"), F.col("v.embedding")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim")
        .orderBy("query_id", F.col("cos_sim").desc(), "neighbor_id")
    )


# --- kNN probe evaluation ---------------------------------------------------

KNN_K = 5  # neighbors voting per probe


@register(
    "knn_label_eval",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label, embedding,
                   sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        q AS (SELECT * FROM v
              WHERE vec_id % {QUERY_MOD} = 0
                AND vec_id < {QUERY_MOD * MAX_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, q.label AS true_label,
                   v.label AS n_label,
                   ROUND({_dot_sql('q.embedding', 'v.embedding')}
                         / (q.nrm * v.nrm), 6) AS cos_sim,
                   v.vec_id AS neighbor_id
            FROM q JOIN v ON q.vec_id <> v.vec_id
        ),
        topk AS (
            SELECT query_id, true_label, n_label
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn
                FROM scored
            )
            WHERE rn <= {KNN_K}
        ),
        votes AS (
            SELECT query_id, true_label, n_label, COUNT(*) AS c
            FROM topk GROUP BY 1, 2, 3
        ),
        pred AS (
            SELECT query_id, true_label, n_label AS pred_label
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY c DESC, n_label) AS rn
                FROM votes
            )
            WHERE rn = 1
        )
        SELECT CAST(true_label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(count_if(pred_label = true_label) AS BIGINT)
                   AS n_correct,
               ROUND(count_if(pred_label = true_label)
                     / COUNT(*)::DOUBLE, 6) AS accuracy
        FROM pred
        GROUP BY true_label
        ORDER BY label
    """,
    doc=f"kNN probe evaluation (the standard embedding-quality metric: "
    f"majority vote of the {KNN_K} nearest cosine neighbors vs the "
    "held-out probe's own label, per-class accuracy). Exercises the "
    "labeled embeddings column end-to-end; deterministic neighbor "
    "sets (rounded similarity + id tiebreak) and vote tiebreak "
    "(count desc, label asc) make even a CLASSIFIER oracle-gated. "
    "Same broadcast-probe bound as ann_cosine_topk (<= 1024 probes "
    "against the scan); at corpus scale the identical vote runs on "
    "the IVF shortlist instead of the flat scan.",
    tags=("ann", "validation", "llm"),
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_col(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    q = v.where(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * MAX_QUERIES)
    )
    qa, vb = q.alias("q"), v.alias("v")
    cos = dot_col(F.col("q.embedding"), F.col("v.embedding")) / (
        F.col("q.nrm") * F.col("v.nrm")
    )
    scored = (
        F.broadcast(qa)
        .join(vb, F.col("q.vec_id") != F.col("v.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("q.label").alias("true_label"),
            F.col("v.label").alias("n_label"),
            F.round(cos, 6).alias("cos_sim"),
            F.col("v.vec_id").alias("neighbor_id"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= KNN_K
    )
    votes = topk.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("n_label")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("pred_label"))
    )
    correct = F.count_if(F.col("pred_label") == F.col("true_label"))
    return (
        pred.groupBy(F.col("true_label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            correct.alias("n_correct"),
            F.round(correct / F.count(F.lit(1)).cast("double"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("label")
    )


# --- embedding truncation (Matryoshka) retrieval eval ------------------------

TRUNC_DIMS = (16, 32)


def _trunc_topk_sql(d: int | None, tag: str) -> str:
    """CTE text: top-K neighbor lists with embeddings truncated to the
    first d dims (None = full width), the ann_cosine_topk pipeline."""
    emb = "embedding" if d is None else f"embedding[1:{d}]"
    return f"""
        v_{tag} AS (
            SELECT vec_id, {emb} AS e,
                   sqrt({_dot_sql(emb, emb)}) AS nrm
            FROM embeddings
        ),
        q_{tag} AS (SELECT * FROM v_{tag}
                    WHERE vec_id % {QUERY_MOD} = 0
                      AND vec_id < {QUERY_MOD * MAX_QUERIES}),
        topk_{tag} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY ROUND({_dot_sql('q.e', 'v.e')}
                                          / (q.nrm * v.nrm), 6) DESC,
                                    v.vec_id) AS rn
                FROM q_{tag} q JOIN v_{tag} v ON q.vec_id <> v.vec_id
            ) WHERE rn <= {TOP_K}
        )
    """


@register(
    "embedding_truncation_eval",
    oracle="WITH "
    + ",".join(
        [_trunc_topk_sql(None, "full")]
        + [_trunc_topk_sql(d, f"d{d}") for d in TRUNC_DIMS]
    )
    + "".join(
        f"""
        , recall_{d} AS (
            SELECT {d} AS dims,
                   (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT)
                    FROM topk_full) AS n_queries,
                   (SELECT CAST(COUNT(*) AS BIGINT)
                    FROM topk_d{d} t JOIN topk_full f
                      ON t.query_id = f.query_id
                     AND t.neighbor_id = f.neighbor_id) AS n_matches
        )
        """
        for d in TRUNC_DIMS
    )
    + " SELECT dims, n_queries, n_matches, ROUND(n_matches / (n_queries * "
    + f"{TOP_K}.0), 4) AS recall_at_{TOP_K} FROM ("
    + " UNION ALL ".join(f"SELECT * FROM recall_{d}" for d in TRUNC_DIMS)
    + ") ORDER BY dims",
    doc="Embedding-truncation retrieval evaluation (the Matryoshka "
    "question, Kusupati et al. 2022 arXiv:2205.13147: how much "
    "retrieval quality survives using only the first d dimensions?): "
    f"recall@{TOP_K} of cosine top-K under the first "
    f"{'/'.join(map(str, TRUNC_DIMS))} dims against the full-width "
    "ground truth, over the same capped broadcast query subset as "
    "ann_cosine_topk. The decision input for storing truncated "
    "vectors (x4 less I/O and memory bandwidth at serving time) "
    "before committing to int8/PQ compression (#65/65b evaluate the "
    "orthogonal axis). Each width is the proven brute-force pipeline "
    "on sliced vectors; recall reduces to one equi-join between "
    "bounded top-K lists, output is one row per width.",
    tags=("ann", "llm"),
)
def embedding_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")

    def topk(d: int | None) -> DataFrame:
        e = (
            F.col("embedding")
            if d is None
            else F.slice(F.col("embedding"), 1, d)
        )
        v = emb.select(
            "vec_id",
            e.alias("e"),
        ).withColumn("nrm", F.sqrt(dot_col(F.col("e"), F.col("e"))))
        q = v.where(
            (F.col("vec_id") % QUERY_MOD == 0)
            & (F.col("vec_id") < QUERY_MOD * MAX_QUERIES)
        )
        qa, vb = q.alias("q"), v.alias("v")
        cos = dot_col(F.col("q.e"), F.col("v.e")) / (
            F.col("q.nrm") * F.col("v.nrm")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        return (
            F.broadcast(qa)
            .join(vb, F.col("q.vec_id") != F.col("v.vec_id"))
            .select(
                F.col("q.vec_id").alias("query_id"),
                F.col("v.vec_id").alias("neighbor_id"),
                F.round(cos, 6).alias("cos_sim"),
            )
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    # NOT checkpointed (r11, measured): the full-width ground truth
    # feeds four consumers, but at bench scale the duplicated
    # brute-force subtrees run CONCURRENTLY in independent stages and
    # a localCheckpoint only serializes them behind a materialization
    # barrier (count A/B at sf0.1: 1.9-2.1 s plain vs 2.4-2.8 s
    # checkpointed, scans 24 -> 8). At true scale the one-line
    # `.localCheckpoint(eager=False)` on `full` is the right call —
    # the bounded queries x K list is tiny and the duplicated passes
    # are corpus-sized — but it is a loss at every SF the bench runs.
    full = topk(None)
    n_q = full.agg(
        F.countDistinct("query_id").alias("n_queries")
    )
    out = None
    for d in TRUNC_DIMS:
        matches = topk(d).join(full, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_matches")
        )
        row = (
            matches.crossJoin(F.broadcast(n_q))
            .select(
                F.lit(d).alias("dims"),
                "n_queries",
                "n_matches",
                F.when(
                    F.col("n_queries") > 0,
                    F.round(
                        F.col("n_matches")
                        / (F.col("n_queries") * float(TOP_K)),
                        4,
                    ),
                ).alias(f"recall_at_{TOP_K}"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("dims")


# --- kNN confidence calibration ----------------------------------------------


@register(
    "knn_confidence_calibration",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label, embedding,
                   sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        q AS (SELECT * FROM v
              WHERE vec_id % {QUERY_MOD} = 0
                AND vec_id < {QUERY_MOD * MAX_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, q.label AS true_label,
                   v.label AS n_label,
                   ROUND({_dot_sql('q.embedding', 'v.embedding')}
                         / (q.nrm * v.nrm), 6) AS cos_sim,
                   v.vec_id AS neighbor_id
            FROM q JOIN v ON q.vec_id <> v.vec_id
        ),
        topk AS (
            SELECT query_id, true_label, n_label
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS rn
                FROM scored
            )
            WHERE rn <= {KNN_K}
        ),
        votes AS (
            SELECT query_id, true_label, n_label, COUNT(*) AS c
            FROM topk GROUP BY 1, 2, 3
        ),
        pred AS (
            SELECT query_id, true_label, n_label AS pred_label, c AS conf
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY c DESC, n_label) AS rn
                FROM votes
            )
            WHERE rn = 1
        )
        SELECT CAST(conf AS BIGINT) AS vote_count,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(count_if(pred_label = true_label) AS BIGINT)
                   AS n_correct,
               ROUND(count_if(pred_label = true_label)
                     / COUNT(*)::DOUBLE, 6) AS accuracy
        FROM pred
        GROUP BY conf
        ORDER BY vote_count
    """,
    doc=f"kNN confidence calibration (reliability readout for #99): "
    f"probes bucketed by the winning label's vote count (1..{KNN_K} — "
    "the classifier's only confidence signal), empirical accuracy per "
    "bucket. A calibrated classifier's accuracy rises with vote "
    "count; a flat curve means votes carry no signal (the honest "
    "expectation on these synthetic labels, which the pytest pins via "
    "bucket-count conservation rather than slope). Same broadcast-"
    "probe pipeline and deterministic tiebreaks as #99; the bucketing "
    "adds one aggregation on the probe-sized frame.",
    tags=("ann", "validation", "llm"),
)
def knn_confidence_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_col(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    q = v.where(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * MAX_QUERIES)
    )
    qa, vb = q.alias("q"), v.alias("v")
    cos = dot_col(F.col("q.embedding"), F.col("v.embedding")) / (
        F.col("q.nrm") * F.col("v.nrm")
    )
    scored = (
        F.broadcast(qa)
        .join(vb, F.col("q.vec_id") != F.col("v.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("q.label").alias("true_label"),
            F.col("v.label").alias("n_label"),
            F.round(cos, 6).alias("cos_sim"),
            F.col("v.vec_id").alias("neighbor_id"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= KNN_K
    )
    votes = topk.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("n_label")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("pred_label"),
            F.col("c").alias("conf"),
        )
    )
    correct = F.count_if(F.col("pred_label") == F.col("true_label"))
    return (
        pred.groupBy(F.col("conf").cast("long").alias("vote_count"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            correct.alias("n_correct"),
            F.round(correct / F.count(F.lit(1)).cast("double"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("vote_count")
    )


# --- ranked-retrieval quality: NDCG@K / precision@K --------------------------
#
# The ranking-metric companion to the classification view of
# knn_label_eval: same probe set, same deterministic neighbor order,
# but graded as a RANKED list (binary same-label relevance) — the
# metric a retrieval/RAG stack actually tunes for. Discount gains
# 1/log2(rank+1) are precomputed HOST-side as 1e-6 int codes and
# inlined as literals in BOTH engines, so no transcendental is ever
# evaluated by either engine and per-query DCG sums are exact int64.

_NDCG_GAINS = tuple(
    int(round(1e6 / math.log2(r + 1))) for r in range(1, TOP_K + 1)
)
_NDCG_IDCG = tuple(
    sum(_NDCG_GAINS[: m + 1]) for m in range(TOP_K)
)  # _NDCG_IDCG[m-1] = ideal DCG code with m relevant items available


def _gain_case_sql(rank: str) -> str:
    whens = " ".join(
        f"WHEN {r + 1} THEN {g}" for r, g in enumerate(_NDCG_GAINS)
    )
    return f"CASE {rank} {whens} END"


def _idcg_case_sql(avail: str) -> str:
    whens = " ".join(
        f"WHEN {m + 1} THEN {c}" for m, c in enumerate(_NDCG_IDCG)
    )
    return f"CASE LEAST({avail}, {TOP_K}) {whens} END"


@register(
    "ann_ndcg_eval",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label, embedding,
                   sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        lc AS (SELECT label, COUNT(*) AS n_label FROM v GROUP BY label),
        q AS (SELECT * FROM v
              WHERE vec_id % {QUERY_MOD} = 0
                AND vec_id < {QUERY_MOD * MAX_QUERIES}),
        ranked AS (
            SELECT query_id, true_label, n_label_val, rn,
                   CASE WHEN n_label_val = true_label THEN 1 ELSE 0 END
                       AS rel
            FROM (
                SELECT q.vec_id AS query_id, q.label AS true_label,
                       v.label AS n_label_val,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY ROUND({_dot_sql('q.embedding',
                                                    'v.embedding')}
                                          / (q.nrm * v.nrm), 6) DESC,
                                    v.vec_id) AS rn
                FROM q JOIN v ON q.vec_id <> v.vec_id
            )
            WHERE rn <= {TOP_K}
        ),
        per_q AS (
            SELECT query_id, true_label,
                   CAST(SUM(rel) AS BIGINT) AS n_hits,
                   SUM(rel * ({_gain_case_sql('rn')})) AS dcg_code
            FROM ranked GROUP BY query_id, true_label
        )
        SELECT p.query_id,
               CAST(p.true_label AS BIGINT) AS label,
               p.n_hits,
               ROUND(p.n_hits / {TOP_K}.0, 6) AS precision_at_k,
               ROUND(p.dcg_code
                     / CAST(({_idcg_case_sql('l.n_label - 1')})
                            AS DOUBLE), 6) AS ndcg_at_k
        FROM per_q p JOIN lc l ON l.label = p.true_label
        WHERE l.n_label > 1
        ORDER BY p.query_id
    """,
    doc=f"Ranked-retrieval quality of the exact cosine top-{TOP_K}: "
    "per probe, binary same-label relevance graded as a ranking — "
    f"precision@{TOP_K} and NDCG@{TOP_K} (Järvelin & Kekäläinen "
    "2002), the metric a retrieval/RAG stack tunes for, next to "
    "knn_label_eval's classification view of the same probe set. "
    "IDCG uses the label's true availability (class size - 1, "
    f"capped at {TOP_K}), so a probe from a small class can still "
    "reach NDCG 1.0. Determinism: the 1/log2(rank+1) discount gains "
    "are precomputed host-side as 1e-6 int codes and inlined as CASE "
    "literals in BOTH engines — no transcendental inside either "
    "engine, per-query DCG is an exact int64 sum, and the single "
    "float division happens once, rounded to 6. Neighbor order is "
    "the house deterministic one (rounded cosine desc, vec_id). "
    "Same <= 1024-probe broadcast bound as ann_cosine_topk; at "
    "corpus scale the identical grading runs over the IVF shortlist.",
    tags=("ann", "validation", "llm"),
)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # the normed frame feeds the label counts, the probe slice, and
    # the brute-force side — materialized once, embeddings is scanned
    # (and every norm computed) once instead of 3x (r11)
    v = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_col(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    ).localCheckpoint(eager=False)
    lc = v.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    q = v.where(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * MAX_QUERIES)
    )
    qa, vb = q.alias("q"), v.alias("v")
    cos = dot_col(F.col("q.embedding"), F.col("v.embedding")) / (
        F.col("q.nrm") * F.col("v.nrm")
    )
    scored = (
        F.broadcast(qa)
        .join(vb, F.col("q.vec_id") != F.col("v.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("q.label").alias("true_label"),
            F.col("v.label").alias("n_label_val"),
            F.round(cos, 6).alias("cos_sim"),
            F.col("v.vec_id").alias("neighbor_id"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    gains = F.array(*[F.lit(g).cast("long") for g in _NDCG_GAINS])
    idcgs = F.array(*[F.lit(c).cast("long") for c in _NDCG_IDCG])
    ranked = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .withColumn(
            "rel",
            F.when(F.col("n_label_val") == F.col("true_label"), 1).otherwise(
                0
            ),
        )
    )
    per_q = ranked.groupBy("query_id", "true_label").agg(
        F.sum("rel").alias("n_hits"),
        F.sum(
            F.col("rel") * F.element_at(gains, F.col("rn"))
        ).alias("dcg_code"),
    )
    avail = F.least(F.col("n_label") - 1, F.lit(TOP_K).cast("long"))
    return (
        per_q.join(
            F.broadcast(lc),
            per_q["true_label"] == lc["label"],
        )
        .where(F.col("n_label") > 1)
        .select(
            "query_id",
            F.col("true_label").cast("long").alias("label"),
            "n_hits",
            F.round(F.col("n_hits") / float(TOP_K), 6).alias(
                "precision_at_k"
            ),
            F.round(
                F.col("dcg_code")
                / F.element_at(idcgs, avail.cast("int")).cast("double"),
                6,
            ).alias("ndcg_at_k"),
        )
        .orderBy("query_id")
    )


# --- exact KNN-Shapley data valuation -----------------------------------------
#
# Jia et al. 2019 (arXiv:1908.08619): for K-NN utility the Shapley
# value of every training point has a CLOSED FORM — rank training
# points by similarity to a probe, then
#   s_N = rel_N / N,   s_j = s_{j+1} + (rel_j - rel_{j+1}) / max(K, j)
# which is a reverse cumulative sum over the rank order: exactly a
# window frame (CURRENT ROW .. UNBOUNDED FOLLOWING). No sampling, no
# retraining — the data-VALUATION family member next to the data-
# SELECTION ones (DSIR #121, curriculum #90, quality gates #53).


@register(
    "knn_shapley_data_values",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label, embedding,
                   sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        q AS (SELECT * FROM v
              WHERE vec_id % {QUERY_MOD} = 0
                AND vec_id < {QUERY_MOD * MAX_QUERIES}),
        ranked AS (
            SELECT q.vec_id AS probe_id,
                   v.vec_id AS train_id, v.label AS y_t,
                   CASE WHEN v.label = q.label THEN 1 ELSE 0 END AS rel,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_dot_sql('q.embedding',
                                                'v.embedding')}
                                      / (q.nrm * v.nrm), 6) DESC,
                                v.vec_id) AS rn,
                   COUNT(*) OVER (PARTITION BY q.vec_id) AS n_train
            FROM q JOIN v ON q.vec_id <> v.vec_id
        ),
        contrib AS (
            SELECT probe_id, train_id, y_t, rn,
                   CASE WHEN rel_next IS NULL
                        THEN CAST(ROUND(1e9 * rel / n_train) AS BIGINT)
                        ELSE CAST(ROUND(1e9 * (rel - rel_next)
                                        / GREATEST({KNN_K}, rn))
                                  AS BIGINT) END AS c_code
            FROM (
                SELECT *, LEAD(rel) OVER (
                           PARTITION BY probe_id ORDER BY rn) AS rel_next
                FROM ranked
            )
        ),
        coded AS (
            SELECT probe_id, train_id, y_t,
                   SUM(c_code) OVER (
                       PARTITION BY probe_id ORDER BY rn
                       ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS s_code
            FROM contrib
        )
        SELECT train_id AS vec_id,
               CAST(ANY_VALUE(y_t) AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_probes,
               ROUND(SUM(s_code) / (1e9 * COUNT(*)), 6) AS mean_shapley
        FROM coded
        GROUP BY train_id
        ORDER BY mean_shapley DESC, vec_id
        LIMIT 100
    """,
    doc="Exact KNN-Shapley data valuation (Jia et al. 2019): the "
    "Shapley value of each training vector for the K-NN probe "
    "utility, via the closed-form rank recurrence s_j = s_(j+1) + "
    f"(rel_j - rel_(j+1))/max({KNN_K}, j) — computed as a reverse "
    "cumulative window sum, no retraining or sampling. Averaged "
    "over the probe set and reporting the top-100 most valuable "
    "points: the principled data-pruning/weighting shortlist the "
    "selection family (DSIR #121, curriculum #90) consumes, and the "
    "third lens on the labeled embeddings after classification "
    "(knn_label_eval) and ranking (ann_ndcg_eval). Determinism: "
    "each recurrence term is ONE division of small exact ints, "
    "rounded to a 1e-9 int64 code BEFORE the cumulative sum, so "
    "both engines accumulate identical integers; the probe average "
    "is one final division. Efficiency axiom (sum of values = "
    "top-K hit rate) pytest-pinned. Scale: same <= 1024-probe "
    "broadcast bound as ann_cosine_topk; the per-probe ranking "
    "window is the same width as the existing brute-force scorer, "
    "and at corpus scale the recurrence runs on the IVF shortlist "
    "(the all-miss tail contributes only its base term).",
    tags=("ann", "llm", "validation"),
)
def knn_shapley_data_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_col(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    q = v.where(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * MAX_QUERIES)
    )
    qa, vb = q.alias("q"), v.alias("v")
    cos = dot_col(F.col("q.embedding"), F.col("v.embedding")) / (
        F.col("q.nrm") * F.col("v.nrm")
    )
    w_probe = Window.partitionBy("probe_id")
    w_rank = w_probe.orderBy(F.col("cos_sim").desc(), F.col("train_id"))
    ranked = (
        F.broadcast(qa)
        .join(vb, F.col("q.vec_id") != F.col("v.vec_id"))
        .select(
            F.col("q.vec_id").alias("probe_id"),
            F.col("v.vec_id").alias("train_id"),
            F.col("v.label").alias("y_t"),
            F.when(F.col("v.label") == F.col("q.label"), 1)
            .otherwise(0)
            .alias("rel"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_train", F.count(F.lit(1)).over(w_probe))
    )
    w_rn = w_probe.orderBy("rn")
    contrib = ranked.withColumn(
        "rel_next", F.lead("rel").over(w_rn)
    ).withColumn(
        "c_code",
        F.when(
            F.col("rel_next").isNull(),
            F.round(F.lit(1e9) * F.col("rel") / F.col("n_train")).cast(
                "long"
            ),
        ).otherwise(
            F.round(
                F.lit(1e9)
                * (F.col("rel") - F.col("rel_next"))
                / F.greatest(F.lit(KNN_K), F.col("rn"))
            ).cast("long")
        ),
    )
    # tail sum (rn' >= rn) as a REVERSE-ORDER running frame: Spark's
    # UnboundedFollowing frame re-aggregates the remaining rows for
    # EVERY row — O(n^2) per probe partition (the 10x stress probe
    # measured ratio 40 at 10k train rows); the descending
    # UnboundedPreceding..current frame is the incremental O(n) form
    # of the same sum.
    w_tail = w_probe.orderBy(F.desc("rn")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    coded = contrib.withColumn("s_code", F.sum("c_code").over(w_tail))
    return (
        coded.groupBy("train_id")
        .agg(
            F.any_value("y_t").cast("long").alias("label"),
            F.count(F.lit(1)).alias("n_probes"),
            F.round(
                F.sum("s_code") / (F.lit(1e9) * F.count(F.lit(1))), 6
            ).alias("mean_shapley"),
        )
        .select(
            F.col("train_id").alias("vec_id"),
            "label",
            "n_probes",
            "mean_shapley",
        )
        .orderBy(F.desc("mean_shapley"), "vec_id")
        .limit(100)
    )
