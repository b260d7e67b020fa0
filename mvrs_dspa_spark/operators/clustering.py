"""K-means clustering + outlier classification (SURVEY §2d #22-23).

Batch re-expression of DSPA task 3 (`jobs/clustering/
UnusualActivityDetectionJob.scala`, `KMeansClustering.scala`,
`KMeansClusterFunction.scala`): featurize activity, cluster with
K-means, classify points by distance to their centroid.

Spark-first shape: centroids are a tiny k x dim model that lives on
the driver (exactly like the reference's broadcast cluster model);
each iteration is one distributed assignment pass (map-side argmin
against literal centroid arrays — no shuffle) plus one per-dimension
mean aggregation (posexplode + partial agg, one shuffle). Iteration
count is fixed and init is deterministic (lowest-id points), so
results are reproducible run-to-run; the reference's ensureK
empty-cluster splitting (KMeansClustering.scala:95-120) is kept, in
a deterministic form (`_split_empty_clusters`).

The streaming variant with decaying weights lives in
`streaming/kmeans.py` (round 2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mvrs_dspa_spark.config import settings
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import EVENT_TYPES, props_k_col, table

K = settings.clustering.embedding_k
ITERS = settings.clustering.kmeans_iters
UA_K = settings.clustering.default_k  # ref: activity-detection.default-k

# Below this many rows the Lloyd loop runs driver-side on a collected
# copy (one Spark job instead of 2+iters). Same spirit as AQE picking
# broadcast-hash below a size threshold: the *model fit* is a tiny
# k x dim reduction, so when the input fits comfortably on the driver
# (100k x 64 doubles = 50 MB) round-trip latency dominates and local
# numpy wins; above it, the distributed per-iteration loop takes over.
# Assignment output is always distributed regardless of path.
LOCAL_FIT_CAP = 100_000


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Map-side nearest-centroid assignment (ties -> lowest cluster id)."""
    dists = F.array(*[_sq_dist(F.col(vec_col), c) for c in centroids])
    return df.withColumn("_dists", dists).withColumn(
        "cluster", (F.array_position("_dists", F.array_min("_dists")) - 1).cast("int")
    ).withColumn("sq_dist", F.array_min("_dists")).drop("_dists")


def _split_empty_clusters(
    cents: list[list[float]], counts: list[int]
) -> None:
    """ensureK for the batch loop (ref KMeansClustering.scala:96-114):
    every EMPTY cluster is refilled by splitting the heaviest cluster —
    the two halves sit at ±valueOffset around the heavy centroid and
    share its weight. Deterministic: empties processed in ascending
    id, heaviest ties resolve to the lowest id, offsets come from the
    same `_split_offset` the streaming model uses. In-place."""
    from mvrs_dspa_spark.streaming.kmeans import _split_offset

    factor = 1
    for j in range(len(cents)):
        if counts[j]:
            continue
        h = max(range(len(cents)), key=lambda i: (counts[i], -i))
        if counts[h] < 2:
            continue  # nothing worth splitting
        off = [_split_offset(v, factor) for v in cents[h]]
        cents[j] = [v + o for v, o in zip(cents[h], off)]
        cents[h] = [v - o for v, o in zip(cents[h], off)]
        counts[j] = counts[h] // 2
        counts[h] -= counts[j]
        factor += 1


def _kmeans_fit_local(rows, k: int, iters: int) -> list[list[float]]:
    """Driver-side Lloyd over a collected (id, vec) list — numpy, but
    semantics identical to the distributed loop: init = k lowest-id
    rows, argmin ties -> lowest cluster id, empty clusters refilled by
    splitting the heaviest (`_split_empty_clusters`)."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    x = np.asarray([[float(v) for v in r[1]] for r in rows], dtype=np.float64)
    cents = x[:k].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # ties -> lowest index, like array_position
        counts = [int((assign == j).sum()) for j in range(k)]
        for j in range(k):
            if counts[j]:
                cents[j] = x[assign == j].mean(axis=0)
        cent_list = [[float(v) for v in c] for c in cents]
        _split_empty_clusters(cent_list, counts)
        cents = np.asarray(cent_list)
    return [[float(v) for v in c] for c in cents]


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    k: int = K,
    iters: int = ITERS,
    id_col: str | None = None,
    local_cap: int = LOCAL_FIT_CAP,
) -> list[list[float]]:
    """Lloyd iterations; returns final centroids (k x dim, driver-side).

    Init: the k lowest-id rows (deterministic; stands in for the
    reference's seeded random init). Empty clusters are refilled each
    iteration by deterministically splitting the heaviest cluster
    (ref ensureK, KMeansClustering.scala:96-114) — without this, a
    collapsed centroid silently unbalances the downstream coarse
    quantizers (ann_ivf cells, semantic_dedup clusters).

    Size-adaptive: inputs up to `local_cap` rows are collected once and
    fit driver-side (`_kmeans_fit_local`); larger inputs run the
    distributed loop (one map-side assignment + one dim-wise agg per
    iteration). Pass ``local_cap=0`` to force the distributed path.
    """
    order_col = id_col or vec_col
    if local_cap:
        sample = df.select(order_col, vec_col).limit(local_cap + 1).collect()
        if not sample:
            return []  # empty input -> no centroids; callers emit empty
        if len(sample) <= local_cap:
            return _kmeans_fit_local(sample, k, iters)
    init_rows = df.orderBy(order_col).limit(k).select(vec_col).collect()
    if not init_rows:
        return []
    centroids = [[float(x) for x in r[0]] for r in init_rows]
    dim = len(centroids[0])
    # dim-wise sum columns instead of posexplode: no row amplification
    # (posexplode shuffles rows x dim), partial agg stays map-side, and
    # the reduce side is k rows x (dim+1) columns. Measured ~1.5x
    # faster per iteration at sf0.1; the gap widens with data size.
    sums = [
        F.sum(F.element_at(F.col(vec_col), i + 1)).alias(f"s{i}") for i in range(dim)
    ]
    for _ in range(iters):
        assigned = assign_clusters(df, vec_col, centroids)
        rows = (
            assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"), *sums).collect()
        )
        new = [list(c) for c in centroids]
        counts = [0] * k
        for r in rows:
            if r["n"]:
                counts[r["cluster"]] = r["n"]
                new[r["cluster"]] = [float(r[f"s{i}"]) / r["n"] for i in range(dim)]
        _split_empty_clusters(new, counts)
        centroids = new
    return centroids


# --- exact integer-quantized Lloyd (the oracle-gated k-means) --------------
#
# r11 rows->oracle conversion of `kmeans_embeddings`: Lloyd's loop is
# declaratively unrollable once every quantity is an integer. Vectors
# quantize to a dyadic 2^-20 grid (floor(x * 2^20 + 0.5): the product
# is an exactly-representable double, so all three engines — Spark
# expression, driver numpy, DuckDB — agree bit-for-bit), distances are
# exact int64 sums of squared differences, and the recentred centroid
# is the TRUNCATING integer division sum // count (DuckDB's `//`;
# Python mirrors it explicitly), introducing at most one grid step of
# quantization per iteration. Two deliberate semantic differences from
# the float `kmeans_fit` (which ivf / semantic_dedup / the reference-
# parity unusual_activity keep): centroids live on the quantized grid,
# and an EMPTY cluster keeps its previous centroid (standard Lloyd
# convention) instead of the reference's sequential ensureK
# heaviest-split — a stateful in-iteration loop that has no
# declarative SQL form. Argmin ties break to the lowest cluster id in
# all engines (first-minimum in Spark/numpy; MIN(d2 * k + c) in SQL).

Q_SCALE = 1 << 20  # dyadic quantization step (exact double products)
EMB_DIM = 64


def assign_clusters_exact(
    df: DataFrame, vec_col: str, centroids: list[list[int]]
) -> DataFrame:
    """Map-side nearest-centroid assignment on the integer grid
    (ties -> lowest cluster id); adds `cluster` + integer `sq_dist_q`
    (squared distance in grid units).

    Arrow-batched numpy, NOT expression folds: quantization, the
    squared-distance expansion ||q||^2 - 2 q.C + ||C||^2, and the
    first-minimum argmin are all int64-exact (max |term| ~1e14, well
    inside int64), so the result is bit-identical to the unrolled
    DuckDB oracle by integer identity — no fp-order caveat — while
    one integer matmul per batch replaces k interpreted 64-element
    folds per row (CollapseProject additionally inlines a computed
    quantized array into every fold reference, which made the
    expression form ~2x the float path's cost; measured at sf0.1:
    1.46 s -> see bench)."""
    import numpy as np

    C = np.asarray([[int(v) for v in c] for c in centroids], dtype=np.int64)
    scale = float(Q_SCALE)

    @F.pandas_udf("struct<cluster:int, sq_dist_q:long>")
    def assign_udf(emb: pd.Series) -> pd.DataFrame:
        import numpy as _np
        import pandas as _pd

        X = _np.asarray([_np.asarray(x, dtype=_np.float64) for x in emb])
        if len(X) == 0:
            return _pd.DataFrame(
                {
                    "cluster": _pd.Series([], dtype="int32"),
                    "sq_dist_q": _pd.Series([], dtype="int64"),
                }
            )
        Q = _np.floor(X * scale + 0.5).astype(_np.int64)
        qc = Q @ C.T  # integer matmul: exact, order-free
        qq = (Q * Q).sum(axis=1)
        cc = (C * C).sum(axis=1)
        d2 = qq[:, None] - 2 * qc + cc[None, :]
        cl = d2.argmin(axis=1)  # first minimum = lowest cluster id
        return _pd.DataFrame(
            {
                "cluster": cl.astype("int32"),
                "sq_dist_q": d2[_np.arange(len(cl)), cl].astype("int64"),
            }
        )

    # asNondeterministic: downstream joins on `cluster` infer an
    # isnotnull(cluster) that the optimizer pushes below the projection
    # computing it, duplicating the UDF — every row paid the integer-
    # matmul assignment TWICE (guide §4.4; the r11 ann_ivf/ann_ivf_pq
    # before-plans show two ArrowEvalPython[assign_udf] nodes). The
    # function is pure; the flag only stops the optimizer from cloning
    # or reordering it. No caller filters on pre-assignment columns
    # downstream, so nothing loses pushdown.
    out = df.withColumn("_a", assign_udf.asNondeterministic()(F.col(vec_col)))
    return (
        out.withColumn("cluster", F.col("_a.cluster"))
        .withColumn("sq_dist_q", F.col("_a.sq_dist_q"))
        .drop("_a")
    )


def _trunc_div(s: int, n: int) -> int:
    """DuckDB's `//` (truncate toward zero); Python's `//` floors."""
    return s // n if s >= 0 else -((-s) // n)


def _kmeans_fit_exact_local(rows, k: int, iters: int) -> list[list[int]]:
    import math

    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    q = np.asarray(
        [
            [int(math.floor(float(v) * Q_SCALE + 0.5)) for v in r[1]]
            for r in rows
        ],
        dtype=np.int64,
    )
    cents = q[:k].copy()
    for _ in range(iters):
        d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # first minimum = lowest cluster id
        new = cents.copy()
        for j in range(len(cents)):
            members = q[assign == j]
            if len(members):
                s = members.sum(axis=0)
                # DuckDB `//` truncates toward zero; numpy floors
                new[j] = np.sign(s) * (np.abs(s) // len(members))
        cents = new
    return [[int(v) for v in c] for c in cents]


def kmeans_fit_exact(
    df: DataFrame,
    vec_col: str,
    k: int = K,
    iters: int = ITERS,
    id_col: str | None = None,
    local_cap: int = LOCAL_FIT_CAP,
) -> list[list[int]]:
    """Integer-grid Lloyd; returns final quantized centroids (k x dim).

    Init: the k lowest-id rows' quantized vectors. Size-adaptive like
    `kmeans_fit`: small inputs fit driver-side on collected rows,
    large inputs run the distributed loop (map-side integer assignment
    + one exact int64 dim-wise sum aggregation per iteration — the
    sums are order-independent, so the fit is partition-count-blind
    by construction, unlike any float recentring)."""
    order_col = id_col or vec_col
    if local_cap:
        sample = df.select(order_col, vec_col).limit(local_cap + 1).collect()
        if not sample:
            return []
        if len(sample) <= local_cap:
            return _kmeans_fit_exact_local(sample, k, iters)
    import math

    init_rows = df.orderBy(order_col).limit(k).select(vec_col).collect()
    if not init_rows:
        return []
    centroids = [
        [int(math.floor(float(x) * Q_SCALE + 0.5)) for x in r[0]]
        for r in init_rows
    ]
    dim = len(centroids[0])
    # quantize per element inside each sum (no shared computed array:
    # CollapseProject would inline it into all dim references)
    sums = [
        F.sum(
            F.floor(
                F.element_at(F.col(vec_col), i + 1).cast("double")
                * F.lit(float(Q_SCALE))
                + F.lit(0.5)
            ).cast("long")
        ).alias(f"s{i}")
        for i in range(dim)
    ]
    for _ in range(iters):
        assigned = assign_clusters_exact(df, vec_col, centroids)
        rows = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in rows:
            if r["n"]:
                new[r["cluster"]] = [
                    _trunc_div(int(r[f"s{i}"]), int(r["n"]))
                    for i in range(dim)
                ]
        centroids = new
    return centroids


def _kmeans_idist_sql(dim: int) -> str:
    """Exact integer squared distance between a quantized vector
    (alias q, column qe) and a centroid (alias c, column cvec)."""
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(generate_series(1, {dim}), "
        "j -> (q.qe[j] - c.cvec[j]) * (q.qe[j] - c.cvec[j]))), "
        "(x, y) -> x + y)"
    )


def kmeans_exact_ctes(
    k: int,
    iters: int,
    dim: int,
    where: str = "",
    prefix: str = "",
    vec_sql: str = "embedding",
    source: str = "embeddings",
) -> list[str]:
    """The unrolled integer Lloyd as MATERIALIZED CTE parts (the
    BPE/LPA unroll playbook), reusable by any oracle that consumes the
    fitted quantizer (`kmeans_embeddings` here; `ann_ivf`'s coarse
    cells; `ann_index_maintenance` fits on a filtered base slice via
    ``where``; `embedding_pq` fits one codebook per subvector slice
    via ``prefix`` + ``vec_sql``; `ann_ivf_pq` fits on a residual CTE
    via ``source``): {prefix}q = quantized vectors,
    {prefix}c0..c{iters} = centroid tables, {prefix}a{i} =
    per-iteration assignments. dkey = d2 * k + c packs (distance,
    cluster) into one BIGINT so MIN() is simultaneously the argmin
    distance and the lowest-id tie-break."""
    idist = _kmeans_idist_sql(dim)
    where_sql = f"WHERE {where}" if where else ""
    parts = [
        f"""{prefix}q AS MATERIALIZED (
            SELECT vec_id,
                   list_transform({vec_sql},
                       x -> CAST(floor(x::DOUBLE * {Q_SCALE} + 0.5)
                                 AS BIGINT)) AS qe
            FROM {source} {where_sql}
        )""",
        f"""{prefix}c0 AS MATERIALIZED (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                        AS INTEGER) AS c, qe AS cvec
            FROM (SELECT vec_id, qe FROM {prefix}q ORDER BY vec_id
                  LIMIT {k})
        )""",
    ]
    for i in range(iters):
        parts.append(
            f"""{prefix}a{i} AS MATERIALIZED (
            SELECT vec_id, CAST(MIN(dkey) % {k} AS INTEGER) AS cluster
            FROM (
                SELECT q.vec_id, {idist} * {k} + c.c AS dkey
                FROM {prefix}q q CROSS JOIN {prefix}c{i} c
            ) GROUP BY vec_id
        )"""
        )
        parts.append(
            f"""{prefix}c{i + 1} AS MATERIALIZED (
            SELECT p.c, COALESCE(nc.cvec, p.cvec) AS cvec
            FROM {prefix}c{i} p LEFT JOIN (
                SELECT cluster AS c, list(fd ORDER BY j) AS cvec
                FROM (
                    SELECT a.cluster, g.j,
                           CAST(SUM(q.qe[g.j]) AS BIGINT) // COUNT(*) AS fd
                    FROM {prefix}a{i} a JOIN {prefix}q q USING (vec_id),
                         generate_series(1, {dim}) g(j)
                    GROUP BY a.cluster, g.j
                ) GROUP BY cluster
            ) nc ON nc.c = p.c
        )"""
        )
    return parts


def _kmeans_oracle(k: int, iters: int, dim: int) -> str:
    idist = _kmeans_idist_sql(dim)
    ctes = ",\n        ".join(kmeans_exact_ctes(k, iters, dim))
    return f"""
        WITH {ctes}
        SELECT vec_id,
               CAST(MIN(dkey) % {k} AS INTEGER) AS cluster,
               ROUND(sqrt(CAST(MIN(dkey) // {k} AS DOUBLE))
                     / {float(Q_SCALE)}, 6) AS dist
        FROM (
            SELECT q.vec_id, {idist} * {k} + c.c AS dkey
            FROM q CROSS JOIN c{iters} c
        ) GROUP BY vec_id
        ORDER BY vec_id
    """


@register(
    "kmeans_embeddings",
    oracle=_kmeans_oracle(K, ITERS, EMB_DIM),
    doc="Batch K-means (k=8, 8 Lloyd iterations, deterministic "
    "lowest-id init) over embeddings; per-vector cluster + distance. "
    "r11 rows->oracle conversion: the fit runs on the exact 2^-20 "
    "integer grid with truncating-division centroids and "
    "keep-previous empty-cluster handling, so the full 8-iteration "
    "loop unrolls into MATERIALIZED oracle CTEs and every assignment "
    "and 6-decimal distance value-hash-matches DuckDB (the float "
    "ensureK fit remains `kmeans_fit` for ivf / semantic_dedup / the "
    "reference-parity unusual_activity).",
    tags=("clustering", "bench"),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file scan = one split; the per-iteration assignment math is
    # CPU-bound, so fan out first (deterministic round-robin: Spark
    # local-sorts before round-robin partitioning, and the integer
    # dim-wise sums are order-independent regardless)
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    centroids = kmeans_fit_exact(
        emb, "embedding", k=K, iters=ITERS, id_col="vec_id"
    )
    if not centroids:  # empty slice in -> empty result out
        return spark.createDataFrame(
            [], "vec_id long, cluster int, dist double"
        )
    return (
        assign_clusters_exact(emb, "embedding", centroids)
        .select(
            "vec_id",
            "cluster",
            F.round(
                F.sqrt(F.col("sq_dist_q").cast("double"))
                / F.lit(float(Q_SCALE)),
                6,
            ).alias("dist"),
        )
        .orderBy("vec_id")
    )


def user_activity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature vector (frequency + value stats) —
    the analog of the reference's aggregated text+frequency features
    (AggregateFeaturesFunction.scala)."""
    ev = table(spark, sf_dir, "events")
    kind_fracs = [
        (F.count_if(F.col("event_type") == t) / F.count(F.lit(1))).alias(f"f_{t}")
        for t in EVENT_TYPES
    ]
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        *kind_fracs,
        (F.avg("value") / 50.0).alias("f_value"),
        (
            F.countDistinct(props_k_col()) / 100.0
        ).alias("f_keys"),
    )
    total = agg.select(F.max("n").alias("max_n"))
    return agg.crossJoin(F.broadcast(total)).select(
        "user_id",
        F.array(
            (F.col("n") / F.col("max_n")),
            *[F.col(f"f_{t}") for t in EVENT_TYPES],
            "f_value",
            "f_keys",
        ).alias("features"),
    )


@register(
    "unusual_activity",
    oracle=None,  # depends on iterative kmeans; rows-only + pytest
    doc="Unusual-activity detection: per-user activity features -> "
    "K-means(4) -> distance to centroid, unusual if > 2x mean distance "
    "(ref UnusualActivityDetectionJob.scala, ClassifyEventsFunction).",
    tags=("clustering", "rows_gate"),
)
def unusual_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the user-bounded feature table feeds the fit, the assignment,
    # and (through it) the mean-distance scalar + final report — each
    # re-ran the events aggregation before (4 scans); materialized
    # once, events is scanned once (r11)
    feats = user_activity_features(spark, sf_dir).localCheckpoint(
        eager=False
    )
    centroids = kmeans_fit(feats, "features", k=UA_K, iters=ITERS, id_col="user_id")
    if not centroids:  # empty slice in -> empty result out
        return spark.createDataFrame(
            [], "user_id long, cluster int, dist double, is_unusual boolean"
        )
    assigned = assign_clusters(feats, "features", centroids).select(
        "user_id", "cluster", F.sqrt("sq_dist").alias("dist")
    )
    stats = assigned.select(F.avg("dist").alias("mean_dist"))
    return (
        assigned.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "cluster",
            F.round("dist", 6).alias("dist"),
            (F.col("dist") > 2 * F.col("mean_dist")).alias("is_unusual"),
        )
        .orderBy("user_id")
    )


# --- external clustering evaluation (purity / NMI) --------------------------


def _agreement_from_ct(ct: DataFrame, k: int) -> DataFrame:
    """(n, k, n_labels, purity, nmi) from a (cluster, lbl, c) INTEGER
    contingency table — the shared serving tail of both agreement
    entry points. Purity is exact-integer + one division; every MI /
    entropy term is a 1e9 int64 code (house summation-order rule)
    over ratios of exact integers, so given an engine-exact
    contingency table the whole report is engine-exact: this is what
    lets the registered query carry a full value-hash oracle.

    The table is k x |labels| rows, but SEVEN aggregate branches read
    it (n/rowm/colm/purity/mi/hc/hl) and each would re-execute the
    full corpus assignment lineage (plan audit: 11 scans) — so it is
    eagerly checkpointed first, mirroring the oracle's MATERIALIZED
    ct CTE: ONE corpus pass, everything after runs on <=k*|labels|
    rows."""
    ct = ct.localCheckpoint(eager=True)
    n = ct.agg(F.sum("c").alias("n"))
    row_m = ct.groupBy("cluster").agg(F.sum("c").alias("rc"))
    col_m = ct.groupBy("lbl").agg(F.sum("c").alias("lc"))
    purity = (
        ct.groupBy("cluster")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").alias("s"))
    )
    joint = (
        ct.join(row_m, "cluster")
        .join(col_m, "lbl")
        .crossJoin(F.broadcast(n))
    )
    # I(C;L) = sum p_ij * ln((c/rc) * (n/lc)); term -> 1e9 int code
    mi_code = F.round(
        (F.col("c") / F.col("n").cast("double"))
        * F.log(
            (F.col("c") / F.col("rc").cast("double"))
            * (F.col("n") / F.col("lc").cast("double"))
        )
        * 1e9
    ).cast("long")
    mi = joint.agg((F.sum(mi_code) / 1e9).alias("mi"))

    def h(df: DataFrame, cnt: str, alias: str) -> DataFrame:
        p = F.col(cnt) / F.col("n").cast("double")
        code = F.round((-p * F.log(p)) * 1e9).cast("long")
        return df.crossJoin(F.broadcast(n)).agg(
            (F.sum(code) / 1e9).alias(alias)
        )

    n_lbl = col_m.agg(F.count(F.lit(1)).alias("n_labels"))
    return (
        n.crossJoin(F.broadcast(purity))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(n_lbl))
        .crossJoin(F.broadcast(h(row_m, "rc", "hc")))
        .crossJoin(F.broadcast(h(col_m, "lc", "hl")))
        .select(
            F.col("n").cast("long").alias("n"),
            F.lit(k).cast("int").alias("k"),
            F.col("n_labels").cast("long").alias("n_labels"),
            F.round(F.col("s") / F.col("n").cast("double"), 6).alias("purity"),
            F.round(
                F.col("mi")
                / F.nullif(
                    F.sqrt(F.col("hc") * F.col("hl")), F.lit(0.0)
                ),
                6,
            ).alias("nmi"),
        )
    )


def label_agreement_report(
    df: DataFrame, vec_col: str, label_col: str, k: int = K
) -> DataFrame:
    """(n, k, n_labels, purity, nmi) for FITTED k-means clusters vs
    labels — the iterative-fit form, pytest-gated (perfect recovery
    on separable data); the registered query below is the pinned-
    centroid form under a full value-hash oracle."""
    cents = kmeans_fit(df, vec_col, k=k, iters=ITERS, id_col="vec_id")
    if not cents:
        return df.sparkSession.createDataFrame(
            [], "n long, k int, n_labels long, purity double, nmi double"
        )
    assigned = assign_clusters(df, vec_col, cents).select(
        "cluster", F.col(label_col).alias("lbl")
    )
    # bounded contingency table: k x |labels| cells
    ct = assigned.groupBy("cluster", "lbl").agg(
        F.count(F.lit(1)).alias("c")
    )
    return _agreement_from_ct(ct, k)


# --- pinned-centroid assignment (the oracle-checkable k-means step) ----------
#
# kmeans_embeddings is rows-gated because the FIT is iterative, but its
# SELECTION step — nearest-centroid argmin — is deterministic given
# centroids. Pinning the centroids to data-independent constants makes
# the assignment pass a full hash-gate query (VERDICT r6 #8), so a
# regression in the distance fold, the tie-break, or the argmin is
# caught by the driver, not just pytest.

PIN_K = 4
PIN_DIM = 64
# dyadic-exact constants (multiples of 1/1024 in [-0.5, 0.5)): every
# (x - c) subtraction and product is then bit-identical across engines.
PINNED_CENTROIDS: list[list[float]] = [
    [(((c * 131 + d * 17) % 1024) - 512) / 1024.0 for d in range(PIN_DIM)]
    for c in range(PIN_K)
]

_PIN_CENTS_SQL = ", ".join(
    f"({c}, [{', '.join(repr(v) for v in vec)}])"
    for c, vec in enumerate(PINNED_CENTROIDS)
)


@register(
    "kmeans_assign_pinned",
    oracle=f"""
        WITH cents(cid, cvec) AS (VALUES {_PIN_CENTS_SQL}),
        dists AS (
            SELECT e.vec_id, c.cid,
                   list_reduce(list_prepend(0.0, list_transform(
                       generate_series(1, len(e.embedding)),
                       i -> (e.embedding[i]::DOUBLE - c.cvec[i])
                            * (e.embedding[i]::DOUBLE - c.cvec[i]))),
                       (x, y) -> x + y) AS d
            FROM embeddings e CROSS JOIN cents c
        ),
        ranked AS (
            SELECT vec_id, cid, d,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM dists
        )
        SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
               ROUND(sqrt(d), 6) AS dist
        FROM ranked WHERE rn = 1
        ORDER BY vec_id
    """,
    doc="Nearest-centroid assignment against PINNED dyadic-exact "
    "centroids — the deterministic selection step of k-means under a "
    "full value-hash oracle (the iterative fit stays rows-gated in "
    "kmeans_embeddings). Same map-side argmin plan as assign_clusters: "
    "centroids ride as literals, zero shuffle before the final sort. "
    "The left-to-right distance fold is bit-identical across engines "
    "because each (x-c) term is (float->double) - dyadic constant.",
    tags=("clustering",),
)
def kmeans_assign_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        assign_clusters(emb, "embedding", PINNED_CENTROIDS)
        .select(
            "vec_id",
            "cluster",
            F.round(F.sqrt("sq_dist"), 6).alias("dist"),
        )
        .orderBy("vec_id")
    )


_AGREE_ORACLE = f"""
    WITH cents(cid, cvec) AS (VALUES {_PIN_CENTS_SQL}),
    dists AS (
        SELECT e.vec_id, e.label, c.cid,
               list_reduce(list_prepend(0.0, list_transform(
                   generate_series(1, len(e.embedding)),
                   i -> (e.embedding[i]::DOUBLE - c.cvec[i])
                        * (e.embedding[i]::DOUBLE - c.cvec[i]))),
                   (x, y) -> x + y) AS d
        FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT label AS lbl, cid AS cluster FROM (
            SELECT label, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    ct AS MATERIALIZED (
        SELECT cluster, lbl, COUNT(*) AS c FROM assigned GROUP BY 1, 2),
    tot AS (SELECT SUM(c) AS n FROM ct),
    rm AS (SELECT cluster, SUM(c) AS rc FROM ct GROUP BY cluster),
    cm AS (SELECT lbl, SUM(c) AS lc FROM ct GROUP BY lbl),
    pur AS (SELECT SUM(mx) AS s FROM (
        SELECT MAX(c) AS mx FROM ct GROUP BY cluster)),
    mi AS (
        SELECT SUM(CAST(ROUND(
                   (c / CAST(n AS DOUBLE))
                   * ln((c / CAST(rc AS DOUBLE))
                        * (n / CAST(lc AS DOUBLE)))
                   * 1e9) AS BIGINT)) / 1e9 AS mi
        FROM ct JOIN rm USING (cluster) JOIN cm USING (lbl)
        CROSS JOIN tot
    ),
    hc AS (
        SELECT SUM(CAST(ROUND(
                   (-(rc / CAST(n AS DOUBLE))
                    * ln(rc / CAST(n AS DOUBLE))) * 1e9)
               AS BIGINT)) / 1e9 AS hc
        FROM rm CROSS JOIN tot
    ),
    hl AS (
        SELECT SUM(CAST(ROUND(
                   (-(lc / CAST(n AS DOUBLE))
                    * ln(lc / CAST(n AS DOUBLE))) * 1e9)
               AS BIGINT)) / 1e9 AS hl
        FROM cm CROSS JOIN tot
    ),
    nl AS (SELECT COUNT(*) AS n_labels FROM cm)
    SELECT CAST(n AS BIGINT) AS n,
           CAST({PIN_K} AS INTEGER) AS k,
           CAST(n_labels AS BIGINT) AS n_labels,
           ROUND(s / CAST(n AS DOUBLE), 6) AS purity,
           ROUND(mi / NULLIF(sqrt(hc * hl), 0.0), 6) AS nmi
    FROM tot, pur, mi, hc, hl, nl
"""


@register(
    "kmeans_label_agreement",
    oracle=_AGREE_ORACLE,
    doc="External clustering evaluation against the labeled "
    "embeddings: purity (each cluster votes its majority label) and "
    "normalized mutual information sqrt-form (Strehl & Ghosh 2002) "
    "between the cluster partition and the label partition — the "
    "companion readout to the kNN probe (#99). Oracle hash gate "
    "since r10 (VERDICT r9 #4a, the pinned-twin playbook): clusters "
    "come from the ALREADY hash-gated pinned dyadic-exact centroid "
    "assignment (kmeans_assign_pinned), so the k x |labels| "
    "contingency table is engine-exact integers, purity is one final "
    "division, and every MI/entropy term is a 1e9 int64 code before "
    "the sum (house summation-order rule) — the Cramer/LPA "
    "integer-rational idiom applied to information theory. The "
    "iterative-fit form stays available as label_agreement_report, "
    "pytest-pinned to recover purity = NMI = 1 on separable data.",
    tags=("clustering", "validation"),
)
def kmeans_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    assigned = assign_clusters(emb, "embedding", PINNED_CENTROIDS).select(
        "cluster", F.col("label").alias("lbl")
    )
    ct = assigned.groupBy("cluster", "lbl").agg(
        F.count(F.lit(1)).alias("c")
    )
    return _agreement_from_ct(ct, PIN_K)
