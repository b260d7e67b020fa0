"""Count-min sketch heavy hitters (SURVEY §2f #75).

The frequency-sketch companion of the existing approx family
(`approx_count_distinct` #9, `approx_percentile` 10w-a): estimate
per-token frequencies from a fixed D x W counter grid instead of a
vocabulary-sized exact aggregation (Cormode & Muthukrishnan 2005).

Why this matters at 100 TB: the exact token-frequency aggregate
shuffles one key per vocabulary entry; the sketch shuffles at most
D*W = {4 x 512} keys REGARDLESS of corpus or vocabulary size — the
map-side combine collapses every partition to a bounded grid, so the
reduce stage is constant-state. That is the production shape when the
vocabulary itself is too large to aggregate exactly (web-scale
n-grams, URLs, user agents).

Cross-engine determinism: bucket hashes are the explicit affine family
from `functions/hashing.py` ((a*x+b) mod P over md5-prefix codes), so
Spark and DuckDB build bit-identical sketches and the query carries a
full oracle gate — rare for a sketch, possible here because CMS is a
deterministic function of the multiset. The report joins the estimate
back to the exact count (the CMS overestimate invariant est >= exact
is also pinned in tests/test_cms.py), mirroring how the other sketch
rows publish their exact twins.

No reference analog (the reference has no sketches); included as a
first-class LLM-pipeline/scale extension alongside HLL and KLL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import hashing as H
from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

CMS_D = 4  # hash rows
CMS_W = 512  # buckets per row
CMS_TOPK = 30
# distinct seed from the minhash (42) / LSH families so rows are
# independent of every other hash use in the repo
CMS_PARAMS = H.hash_params(CMS_D, seed=101)


def _bucket_cols(code: F.Column) -> list[F.Column]:
    return [
        (H.affine_col(code, a, b) % F.lit(CMS_W)).cast("int")
        for a, b in CMS_PARAMS
    ]


def _bucket_sql(code: str, j: int) -> str:
    a, b = CMS_PARAMS[j]
    return f"({H.affine_sql(code, a, b)} % {CMS_W})"


def cms_sketch(toks: DataFrame) -> DataFrame:
    """(j, bucket, c) counter grid — at most D*W rows, any input size.

    The posexplode is map-side (xD narrow fan-out) and immediately
    collapsed by the partial aggregate into the D*W grid, so the one
    shuffle moves <= D*W rows per map partition.
    """
    code = H.str_code_col(F.col("t"))
    return (
        toks.select(
            F.posexplode(F.array(*_bucket_cols(code))).alias("j", "bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


_TOKS_SQL = f"SELECT unnest({T.tokens_sql('text')}) AS t FROM documents"
_CODE_SQL = H.str_code_sql("t")

_CELLS_SQL = "\nUNION ALL\n".join(
    f"SELECT {j} AS j, {_bucket_sql(_CODE_SQL, j)} AS bucket, COUNT(*) AS c"
    f" FROM toks GROUP BY 2"
    for j in range(CMS_D)
)
_PROBES_SQL = "\nUNION ALL\n".join(
    f"SELECT t, exact_count, {j} AS j,"
    f" {_bucket_sql(_CODE_SQL, j)} AS bucket FROM vocab"
    for j in range(CMS_D)
)


@register(
    "cms_heavy_hitters",
    oracle=f"""
        WITH toks AS ({_TOKS_SQL}),
        cells AS ({_CELLS_SQL}),
        vocab AS (SELECT t, COUNT(*) AS exact_count FROM toks GROUP BY t),
        probes AS ({_PROBES_SQL})
        SELECT p.t AS token,
               CAST(p.exact_count AS BIGINT) AS exact_count,
               CAST(MIN(c.c) AS BIGINT) AS est_count
        FROM probes p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
        GROUP BY p.t, p.exact_count
        ORDER BY est_count DESC, token
        LIMIT {CMS_TOPK}
    """,
    doc="Count-min-sketch heavy hitters over document tokens: "
    f"{CMS_D}x{CMS_W} deterministic affine counter grid, estimate = "
    "min over rows, top-30 tokens by estimate with the exact count "
    "published alongside. The sketch shuffle is bounded by the grid "
    "size (not the vocabulary), the overestimate invariant is "
    "pytest-pinned, and the affine hashes make the whole construction "
    "engine-portable (full oracle gate).",
    tags=("llm", "sketch"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = d.select(F.explode(T.tokens_col(F.col("text"))).alias("t"))

    # candidate set for the report: the (vocabulary-bounded) distinct
    # tokens with exact counts — the published comparison twin. In the
    # vocabulary-too-big regime the candidate set would instead be an
    # external dictionary probed against the same broadcast grid.
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("exact_count"))
    code = H.str_code_col(F.col("t"))
    probes = vocab.select(
        "t",
        "exact_count",
        F.posexplode(F.array(*_bucket_cols(code))).alias("j", "bucket"),
    )
    # A grid cell's count is EXACTLY the sum of the vocab's exact
    # counts over the tokens hashing to it, so each probe row's cell
    # count is a window sum over its (j, bucket) cell — no second
    # `cms_sketch(toks)` corpus pass for the grid and no grid join:
    # ONE tokenize + vocab aggregation, then everything downstream is
    # vocabulary-bounded (the window shuffles <= 4 rows per distinct
    # token across <= D*W partitions). Before r11 the grid and the
    # vocab each re-tokenized the corpus (2 full passes + a 4x
    # posexplode fan-out on one of them). (`cms_sketch` itself stays
    # the one-pass grid builder the streaming maintainers use on
    # unbounded-vocabulary inputs.)
    from pyspark.sql import Window

    w_cell = Window.partitionBy("j", "bucket")
    est = (
        probes.withColumn("c", F.sum("exact_count").over(w_cell))
        .groupBy("t", "exact_count")
        .agg(F.min("c").alias("est_count"))
    )
    return (
        est.select(
            F.col("t").alias("token"),
            F.col("exact_count"),
            F.col("est_count"),
        )
        .orderBy(F.desc("est_count"), "token")
        .limit(CMS_TOPK)
    )


# --- HyperLogLog distinct-count sketch -------------------------------------
#
# Flajolet et al. 2007, engine-portable like the CMS above: bucket and
# rank come from two independent affine hashes over the same explicit
# family, so Spark and DuckDB build bit-identical register tables and
# the query carries a FULL oracle gate on a cardinality sketch. The
# derived estimate stays deterministic too: sum(2^-M) is a sum of
# dyadic rationals (exact in ieee754 double), and the one ln() in the
# small-range branch is rounded far above last-ulp noise.
#
# Scale posture: the register table is (group x m) rows regardless of
# input size — max() partials collapse map-side, so the shuffle is
# register-bounded exactly like approx_count_distinct's internal HLL
# state. This is the transparent twin of #9 (event_user_counts_approx,
# whose engine-internal sketch cannot be oracle-gated).

HLL_P_BITS = 9
HLL_M = 1 << HLL_P_BITS  # 512 registers -> ~4.6% standard error
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # bias constant, both engines
# y = h2(code) % 2^HLL_Y_BITS; rank = HLL_Y_BITS + 1 - bit_length(y)
HLL_Y_BITS = 22
(_HLL_A1, _HLL_B1), (_HLL_A2, _HLL_B2) = H.hash_params(2, seed=271)


def hll_registers(df: DataFrame, code: F.Column, *groups: str) -> DataFrame:
    """(groups..., bucket, rho) register table, <= m rows per group."""
    bucket = (H.affine_col(code, _HLL_A1, _HLL_B1) % F.lit(HLL_M)).cast("int")
    y = H.affine_col(code, _HLL_A2, _HLL_B2) % F.lit(1 << HLL_Y_BITS)
    # bit_length(y) as an integer comparison ladder: exact in both
    # engines, no float log2 anywhere near the registers
    bit_len = sum(
        (y >= F.lit(1 << k)).cast("int") for k in range(HLL_Y_BITS)
    )
    rho = (F.lit(HLL_Y_BITS + 1) - bit_len).cast("int")
    return (
        df.select(*groups, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*groups, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def _hll_bitlen_sql(y: str) -> str:
    return "(" + " + ".join(
        f"(({y}) >= {1 << k})::INT" for k in range(HLL_Y_BITS)
    ) + ")"


# md5-based code, not a bare affine of the integer id: consecutive ids
# through one affine map form an arithmetic progression mod P, whose
# bucket/rank distribution is lattice-structured (measured ~18% high at
# 150 distinct); the md5 code decorrelates it to true ~1/sqrt(m) error
_HLL_CODE_SQL = H.str_code_sql("CAST(user_id AS VARCHAR)")
_HLL_REG_SQL = f"""
    SELECT event_type,
           ({H.affine_sql(_HLL_CODE_SQL, _HLL_A1, _HLL_B1)} % {HLL_M}) AS bucket,
           MAX({HLL_Y_BITS + 1} - {_hll_bitlen_sql(
               f"{H.affine_sql(_HLL_CODE_SQL, _HLL_A2, _HLL_B2)} % {1 << HLL_Y_BITS}"
           )}) AS m_j
    FROM events
    GROUP BY 1, 2
"""


@register(
    "hll_user_counts",
    oracle=f"""
        WITH regs AS ({_HLL_REG_SQL}),
        folded AS (
            SELECT event_type,
                   SUM(pow(2.0, -m_j)) + ({HLL_M} - COUNT(*)) AS s,
                   {HLL_M} - COUNT(*) AS v
            FROM regs GROUP BY event_type
        ),
        est AS (
            SELECT event_type,
                   CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M} / s
                       AS e_raw, v
            FROM folded
        )
        SELECT e.event_type,
               x.n_exact,
               ROUND(CASE WHEN e.e_raw <= 2.5 * {HLL_M} AND e.v > 0
                          THEN {HLL_M} * ln({HLL_M} / e.v::DOUBLE)
                          ELSE e.e_raw END, 4) AS hll_estimate
        FROM est e
        JOIN (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY event_type
        ) x USING (event_type)
        ORDER BY event_type
    """,
    doc="Engine-portable HyperLogLog (Flajolet 2007): per-event-type "
    "distinct-user estimate from a 512-register sketch built with the "
    "explicit affine hash family — bit-identical registers on both "
    "engines, so a cardinality SKETCH carries a full oracle gate "
    "(the transparent twin of approx_count_distinct #9). Rank uses an "
    "integer comparison ladder, never float log2. Shuffle state is "
    "groups x 512 registers regardless of input size; the exact "
    "distinct count is published alongside as the comparison twin.",
    tags=("sketch", "relational"),
)
def hll_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    regs = hll_registers(
        ev, H.str_code_col(F.col("user_id").cast("string")), "event_type"
    )
    folded = regs.groupBy("event_type").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("m_j")))
            + (F.lit(HLL_M) - F.count(F.lit(1)))
        ).alias("s"),
        (F.lit(HLL_M) - F.count(F.lit(1))).alias("v"),
    )
    e_raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M / F.col("s")
    est = folded.select(
        "event_type",
        F.round(
            F.when(
                (e_raw <= 2.5 * HLL_M) & (F.col("v") > 0),
                F.lit(HLL_M) * F.log(F.lit(HLL_M) / F.col("v").cast("double")),
            ).otherwise(e_raw),
            4,
        ).alias("hll_estimate"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "n_exact", "hll_estimate")
        .orderBy("event_type")
    )


# --- sketch-based join-size estimation -------------------------------------
#
# |A join B on k| = sum_k cA(k)*cB(k), estimated from two bounded
# count-sketch grids (Charikar-Chen-Farach-Colton 2002; fast-AGMS per
# Cormode & Garofalakis 2005): each key occurrence adds a +/-1-signed
# count into one bucket per hash row, and the gridwise inner product
# is an UNBIASED estimator of the join size — median over rows tames
# the variance. (A plain CMS inner product was measured 29x high on
# the orders-lineitem FK join at sf0.01: its collision term
# F1(A)*F1(B)/W dwarfs a foreign-key join's true size. The signed
# sketch cancels collisions in expectation; same grids, same cost.)
# This is what a cost-based optimizer consults before choosing join
# order/strategy. Grids shuffle D*W cells per side regardless of
# table size; the exact size is published alongside as the comparison
# twin (computed from per-key count tables, NOT by running the join).

JS_D = 5            # odd -> median is the exact middle element
JS_W = 1024
# Cubic (4-wise-independent) polynomial hashes straight over the
# integer keys: the AMS variance bound requires 4-wise, affine (2-wise)
# doesn't suffice, and the md5 string code this replaced was the whole
# query's CPU bill — CollapseProject inlines the code expression into
# every bucket/sign reference, so md5 ran ~10x per input row (measured
# 7.8 s at sf0.1; integer Horner dropped the query under 1 s).
JS_BUCKET_POLYS = H.poly_params(JS_D, degree=3, seed=313)
JS_SIGN_POLYS = H.poly_params(JS_D, degree=3, seed=727)

JOIN_EST_PAIRS = (
    ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("events_self_user", "events", "user_id", "events", "user_id"),
)


def _key_cells(counts: DataFrame) -> DataFrame:
    """(j, bucket, c) signed count-sketch grid from a (k, c) per-key
    count table. Building from the COUNT table rather than raw rows is
    both exact (sum of per-occurrence signs == sign * count) and the
    cheaper shape: the count table is the first map-side-combined
    aggregate, so the 5x hash fan-out runs over distinct keys, not
    every row — and the caller already needs the same table for the
    published exact twin, so the scan is shared."""
    code = F.col("k")
    rows = [
        F.struct(
            F.lit(j).alias("j"),
            (H.poly_col(code, pb) % F.lit(JS_W)).cast("int").alias("bucket"),
            (
                (F.lit(1) - F.lit(2) * (H.poly_col(code, ps) % F.lit(2)))
                * F.col("c")
            ).alias("s"),
        )
        for j, (pb, ps) in enumerate(zip(JS_BUCKET_POLYS, JS_SIGN_POLYS))
    ]
    return (
        counts.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.j", "r.bucket", "r.s")
        .groupBy("j", "bucket")
        .agg(F.sum("s").alias("c"))
    )


def _cells_sql_for(table_name: str, key: str) -> str:
    parts = []
    for j, (pb, ps) in enumerate(zip(JS_BUCKET_POLYS, JS_SIGN_POLYS)):
        parts.append(
            f"SELECT {j} AS j, ({H.poly_sql('k', pb)} % {JS_W}) AS bucket,"
            f" SUM((1 - 2 * ({H.poly_sql('k', ps)} % 2)) * c) AS c"
            f" FROM (SELECT {key} AS k, COUNT(*) AS c FROM {table_name}"
            f" GROUP BY 1) GROUP BY 2"
        )
    return "\nUNION ALL\n".join(parts)


def _pair_sql(name: str, ta: str, ka: str, tb: str, kb: str) -> str:
    return f"""
        SELECT '{name}' AS pair,
               (SELECT CAST(SUM(ca.c * cb.c) AS BIGINT)
                FROM (SELECT {ka} AS k, COUNT(*) AS c FROM {ta} GROUP BY 1) ca
                JOIN (SELECT {kb} AS k, COUNT(*) AS c FROM {tb} GROUP BY 1) cb
                USING (k)) AS exact_size,
               (SELECT CAST(GREATEST(quantile_cont(ip, 0.5), 0) AS BIGINT)
                FROM (
                    SELECT a.j, SUM(a.c * b.c) AS ip
                    FROM ({_cells_sql_for(ta, ka)}) a
                    JOIN ({_cells_sql_for(tb, kb)}) b
                    ON a.j = b.j AND a.bucket = b.bucket
                    GROUP BY a.j)) AS sketch_estimate
    """


@register(
    "join_size_estimate",
    oracle="SELECT pair, exact_size, sketch_estimate,"
    " ROUND((sketch_estimate - exact_size)"
    " / NULLIF(exact_size, 0)::DOUBLE, 6) AS rel_error FROM ("
    + "\nUNION ALL\n".join(_pair_sql(*p) for p in JOIN_EST_PAIRS)
    + ") ORDER BY pair",
    doc="Join-cardinality estimation from signed count-sketch inner "
    "products (fast-AGMS): for each candidate join, the median over "
    "hash rows of the gridwise product of the two sides' key "
    "sketches — unbiased, never runs the join, grid-bounded shuffle. "
    "The optimizer-statistics companion of join_key_skew_report: "
    "that one says WHERE a join will skew, this one says HOW BIG it "
    "will be. Exact size published from per-key count tables as the "
    "comparison twin; the affine hash family keeps the sketches "
    "bit-identical across engines (full oracle gate).",
    tags=("sketch", "relational", "scale"),
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each (table, key) count table feeds FOUR consumers (exact twin +
    # sketch grid, x both sides of the self-join pair) and the union of
    # all three pair plans runs as ONE action. ReuseExchange alone
    # cannot serve them all: the est join's build side is a
    # BroadcastExchange, which never unifies with the probe side's
    # shuffle Exchange, so the key-count aggregation re-ran per
    # reference. Lazy localCheckpoints on the bounded count tables fix
    # that (re-measured r11 second half: 4.6 -> 4.0 s interleaved;
    # checkpointing the derived cells grids as well was SLOWER — the
    # grids are one cheap explode over the already-materialized
    # counts). The self-join pair needs no joins at all: (k) and
    # (j, bucket) are unique within one side, so exact = sum(c^2) and
    # the per-row inner product is sum(c^2) — identical results by
    # construction, two joins and a broadcast of the events grid gone.
    counts: dict[tuple[str, str], DataFrame] = {}
    cells: dict[tuple[str, str], DataFrame] = {}

    def side(t: str, k: str) -> tuple[DataFrame, DataFrame]:
        if (t, k) not in counts:
            cnt = (
                table(spark, sf_dir, t)
                # NULL keys never match an equi-join, so the oracle's
                # JOIN USING (k) (and the old Spark join) drops them;
                # the self-pair sum(c^2) fold and the groupBy('j') grid
                # would silently KEEP a NULL-key group if one existed.
                # Filtering here pins join semantics for every branch
                # regardless of key nullability (ADVICE r11).
                .where(F.col(k).isNotNull())
                .groupBy(F.col(k).alias("k"))
                .agg(F.count(F.lit(1)).alias("c"))
                .localCheckpoint(eager=False)
            )
            counts[(t, k)] = cnt
            cells[(t, k)] = _key_cells(cnt)
        return counts[(t, k)], cells[(t, k)]

    out = None
    for name, ta, ka, tb, kb in JOIN_EST_PAIRS:
        ca, ga = side(ta, ka)
        cb, gb = side(tb, kb)
        if (ta, ka) == (tb, kb):
            exact = ca.agg(
                F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_size")
            )
            ip_per_row = ga.groupBy("j").agg(
                F.sum(F.col("c") * F.col("c")).alias("ip")
            )
        else:
            exact = (
                ca.join(cb.withColumnRenamed("c", "c2"), "k")
                .agg(
                    F.sum(F.col("c") * F.col("c2"))
                    .cast("long")
                    .alias("exact_size")
                )
            )
            ip_per_row = (
                ga.join(
                    F.broadcast(gb.withColumnRenamed("c", "c2")),
                    ["j", "bucket"],
                )
                .groupBy("j")
                .agg(F.sum(F.col("c") * F.col("c2")).alias("ip"))
            )
        est = ip_per_row.agg(
            F.greatest(F.percentile("ip", F.lit(0.5)), F.lit(0.0))
            .cast("long")
            .alias("sketch_estimate")
        )
        row = (
            exact.crossJoin(F.broadcast(est))
            .select(
                F.lit(name).alias("pair"),
                "exact_size",
                "sketch_estimate",
                F.round(
                    (F.col("sketch_estimate") - F.col("exact_size"))
                    / F.nullif(F.col("exact_size"), F.lit(0)).cast("double"),
                    6,
                ).alias("rel_error"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("pair")


# --- sliding distinct users via mergeable HLL partials ---------------------
#
# The pattern that makes sliding COUNT DISTINCT affordable: exact
# sliding distincts cannot reuse partial aggregates (distinct is not
# decomposable), so every window recounts its whole span — but HLL
# registers ARE decomposable (merge = cell-wise MAX), so hourly
# register partials roll into any window by re-aggregation, the same
# base+delta shape as the incremental materialized view (12b) and how
# Druid/ClickHouse serve windowed uniques. Register fan-out is
# window_hours x the (sparse, <= m) per-hour register table — never
# the event stream.

HLL_WINDOW_HOURS = 6


@register(
    "sliding_distinct_users_hll",
    oracle=f"""
        WITH ev AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 AS h,
                   user_id
            FROM events
        ),
        hours AS (SELECT DISTINCT event_type, h FROM ev),
        regs AS (
            SELECT event_type, h,
                   ({H.affine_sql(H.str_code_sql("CAST(user_id AS VARCHAR)"), _HLL_A1, _HLL_B1)}
                    % {HLL_M}) AS bucket,
                   MAX({HLL_Y_BITS + 1} - {_hll_bitlen_sql(
                       f"{H.affine_sql(H.str_code_sql('CAST(user_id AS VARCHAR)'), _HLL_A2, _HLL_B2)} % {1 << HLL_Y_BITS}"
                   )}) AS m_j
            FROM ev GROUP BY 1, 2, 3
        ),
        win_regs AS (
            SELECT w.event_type, w.h AS window_end_h, r.bucket,
                   MAX(r.m_j) AS m_j
            FROM hours w
            JOIN regs r
              ON r.event_type = w.event_type
             AND r.h BETWEEN w.h - {HLL_WINDOW_HOURS - 1} AND w.h
            GROUP BY 1, 2, 3
        ),
        folded AS (
            SELECT event_type, window_end_h,
                   SUM(pow(2.0, -m_j)) + ({HLL_M} - COUNT(*)) AS s,
                   {HLL_M} - COUNT(*) AS v
            FROM win_regs GROUP BY 1, 2
        ),
        est AS (
            SELECT event_type, window_end_h,
                   CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M} / s
                       AS e_raw, v
            FROM folded
        ),
        exact AS (
            SELECT w.event_type, w.h AS window_end_h,
                   CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_distinct
            FROM hours w
            JOIN ev e
              ON e.event_type = w.event_type
             AND e.h BETWEEN w.h - {HLL_WINDOW_HOURS - 1} AND w.h
            GROUP BY 1, 2
        )
        SELECT x.event_type, CAST(x.window_end_h AS BIGINT) AS window_end_h,
               x.exact_distinct,
               ROUND(CASE WHEN e.e_raw <= 2.5 * {HLL_M} AND e.v > 0
                          THEN {HLL_M} * ln({HLL_M} / e.v::DOUBLE)
                          ELSE e.e_raw END, 4) AS hll_estimate
        FROM exact x JOIN est e USING (event_type, window_end_h)
        ORDER BY event_type, window_end_h
    """,
    doc=f"Sliding {HLL_WINDOW_HOURS}h distinct users per event type "
    "from MERGEABLE hourly HLL register partials (Druid/ClickHouse "
    "windowed-uniques shape): exact sliding distinct cannot reuse "
    "partials (not decomposable), registers can (merge = MAX), so "
    "each window re-aggregates window_hours sparse register tables "
    "instead of recounting its event span. Exact windowed distinct "
    "published as the comparison twin; same affine register "
    "construction as hll_user_counts -> full oracle gate.",
    tags=("sketch", "relational", "temporal"),
)
def sliding_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("h"),
        "user_id",
    )
    # ONE events scan (r11): registers are per-(type, hour) MAXes of a
    # per-user rho, so building them from the DISTINCT hourly user
    # table is bit-identical to building them from the raw stream —
    # and that same materialized distinct also serves the hour list
    # (twice) and the exact twin, which each re-scanned events before.
    hourly_users = (
        ev.select("event_type", "h", "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    hours = hourly_users.select("event_type", "h").distinct()
    regs = hll_registers(
        hourly_users,
        H.str_code_col(F.col("user_id").cast("string")),
        "event_type",
        "h",
    )
    # window membership via OFFSET EXPLODE, not a BETWEEN join: the
    # range predicate would plan as a 5-key equi join (event_type) with
    # the h-range as residual — a per-type nested loop over hours x
    # registers (measured 5.9 s at sf0.1). Fanning each register out to
    # the W windows it belongs to is linear (xW) and every join stays
    # equi; the same trick as operators/range_join's bucket
    # quantization. Targets with no events drop via the hours semi join.
    off = F.explode(
        F.sequence(F.lit(0), F.lit(HLL_WINDOW_HOURS - 1))
    ).alias("k")
    win_regs = (
        regs.select("event_type", "h", "bucket", "m_j", off)
        .select(
            "event_type",
            (F.col("h") + F.col("k")).alias("window_end_h"),
            "bucket",
            "m_j",
        )
        .join(
            hours.select(
                "event_type", F.col("h").alias("window_end_h")
            ),
            ["event_type", "window_end_h"],
            "left_semi",
        )
        .groupBy("event_type", "window_end_h", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    folded = win_regs.groupBy("event_type", "window_end_h").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("m_j")))
            + (F.lit(HLL_M) - F.count(F.lit(1)))
        ).alias("s"),
        (F.lit(HLL_M) - F.count(F.lit(1))).alias("v"),
    )
    e_raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M / F.col("s")
    est = folded.select(
        "event_type",
        "window_end_h",
        F.round(
            F.when(
                (e_raw <= 2.5 * HLL_M) & (F.col("v") > 0),
                F.lit(HLL_M) * F.log(F.lit(HLL_M) / F.col("v").cast("double")),
            ).otherwise(e_raw),
            4,
        ).alias("hll_estimate"),
    )
    # exact twin: same offset fan-out over the materialized DISTINCT
    # hourly user sets (pre-dedup before the x6 explode keeps the
    # fan-out on the bounded per-hour distinct table, not the raw
    # event stream)
    exact = (
        hourly_users.select("event_type", "h", "user_id", off)
        .select(
            "event_type",
            (F.col("h") + F.col("k")).alias("window_end_h"),
            "user_id",
        )
        .join(
            hours.select(
                "event_type", F.col("h").alias("window_end_h")
            ),
            ["event_type", "window_end_h"],
            "left_semi",
        )
        .groupBy("event_type", "window_end_h")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return (
        exact.join(est, ["event_type", "window_end_h"])
        .select("event_type", "window_end_h", "exact_distinct", "hll_estimate")
        .orderBy("event_type", "window_end_h")
    )


# --- theta / KMV distinct sketch with set algebra --------------------------
#
# The sketch operation HLL (hll_user_counts, #84) cannot do: a KMV
# (k-minimum-values) theta sketch supports UNION by re-selecting the k
# smallest hashes of the merged sample — the '__union__' row below IS
# that merge, computed from the same per-type hash sets. Estimator
# (Bar-Yossef et al. 2002; Dasu et al. 2006): with kth = k-th smallest
# of n distinct uniform hashes in [0, P), E[kth/P] ~ k/(n+1), so
# n_est = (k-1)*P/kth is (nearly) unbiased. Exact counts ride along as
# the published comparison twin (same convention as join_size_estimate).

THETA_K = 128
_THETA_AB = H.hash_params(1, seed=5151)[0]


def theta_code_col() -> Column:
    """The KMV hash — ONE definition shared by the registered batch
    query and the streaming sketch maintainer
    (streaming/theta_stream.ThetaMonitor)."""
    return H.affine_col(F.col("user_id"), *_THETA_AB)


def theta_sketch_table(codes: DataFrame, exact: bool = True) -> DataFrame:
    """Per-type + '__union__' theta/KMV sketch rows from a distinct
    (event_type, code) frame — the serving tail shared by the batch
    query (codes from one corpus scan; exact=True adds the
    ground-truth n_exact/rel_err columns) and the streaming monitor
    (codes = its bounded k-per-type state, where exact counts are not
    available by construction)."""
    from pyspark.sql import Window

    merged = codes.unionByName(
        codes.select("code")
        .distinct()
        .select(F.lit("__union__").alias("event_type"), "code")
    )
    # the union sketch needs only the k smallest combined codes; when
    # `codes` is already a k-per-type state, the global k smallest are
    # each inside their own type's k smallest, so the union row equals
    # the full-data sketch (the KMV union property).
    w = Window.partitionBy("event_type").orderBy("code")
    ranked = merged.withColumn("rn", F.row_number().over(w))
    if not exact:
        ranked = ranked.where(F.col("rn") <= THETA_K)
    n = F.count(F.lit(1))
    kth = F.max(F.when(F.col("rn") == THETA_K, F.col("code")))
    est = F.when(n < THETA_K, n.cast("double")).otherwise(
        F.lit(float(THETA_K - 1)) * F.lit(float(H.P)) / kth
    )
    cols = [
        kth.cast("long").alias("kth_code"),
        F.round(est, 4).alias("est_distinct"),
    ]
    if exact:
        cols = [
            n.cast("long").alias("n_exact"),
            *cols,
            F.round((est - n) / n, 6).alias("rel_err"),
        ]
    return ranked.groupBy("event_type").agg(*cols).orderBy("event_type")



@register(
    "theta_sketch_distinct_union",
    oracle=f"""
        WITH codes AS (
            SELECT DISTINCT event_type,
                   {H.affine_sql("user_id", *_THETA_AB)} AS code
            FROM events
        ),
        merged AS (
            SELECT event_type, code FROM codes
            UNION ALL
            SELECT '__union__' AS event_type, code
            FROM (SELECT DISTINCT code FROM codes)
        ),
        ranked AS (
            SELECT event_type, code,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY code) AS rn
            FROM merged
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(MAX(CASE WHEN rn = {THETA_K} THEN code END) AS BIGINT)
                   AS kth_code,
               ROUND(CASE WHEN COUNT(*) < {THETA_K} THEN COUNT(*)::DOUBLE
                     ELSE ({THETA_K} - 1) * {H.P}::DOUBLE
                          / MAX(CASE WHEN rn = {THETA_K} THEN code END) END,
                     4) AS est_distinct,
               ROUND((CASE WHEN COUNT(*) < {THETA_K} THEN COUNT(*)::DOUBLE
                      ELSE ({THETA_K} - 1) * {H.P}::DOUBLE
                           / MAX(CASE WHEN rn = {THETA_K} THEN code END) END
                      - COUNT(*)) / COUNT(*), 6) AS rel_err
        FROM ranked
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Theta/KMV distinct-user sketch per event type PLUS the sketch "
    "UNION across all types ('__union__' row) — the mergeable set "
    "algebra HLL registers cannot express beyond max-merge; a KMV "
    "union is just 'k smallest of the combined hash sample', so the "
    "same construction serves per-segment sketches and any segment "
    "union (intersections follow by inclusion-exclusion on the "
    "estimates). The affine hash is a bijection of [0, P), so distinct "
    "users = distinct codes and the estimator is oracle-exact. "
    "Corpus-sized work: one distinct (type, code) aggregate; the rank "
    "window runs on distinct codes per type (at extreme cardinality "
    "swap in a per-partition bottom-k + k-row merge, same "
    "TakeOrdered shape as reservoir_sample_events — the window form "
    "here is what DuckDB can mirror exactly).",
    tags=("sketch", "analytics"),
)
def theta_sketch_distinct_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    codes = ev.select(
        "event_type",
        theta_code_col().alias("code"),
    ).distinct()
    return theta_sketch_table(codes, exact=True)


# --- mergeable t-digest quantiles ------------------------------------------

TD_DELTA = 100
TD_SALTS = 16
TD_QS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
_TD_AB = H.hash_params(1, seed=6161)[0]


def _make_td_helpers():
    """Factory so the helpers' qualnames contain `<locals>` —
    cloudpickle then ships them BY VALUE inside the applyInPandas
    closures instead of by module reference, keeping the registered
    query runnable from a driver whose workers can't import
    mvrs_dspa_spark (the driver contract runs from an arbitrary cwd;
    same discipline as the nested pandas_udfs in operators/ann.py)."""

    def compress(means, weights, delta: int):
        """Merging t-digest compression (Dunning & Ertl,
        arXiv:1902.04023): points sorted by mean are greedily merged
        while the k1 scale function k(q) = (delta/2pi)*asin(2q-1)
        allows (k(q_hi) - k(q_lo) <= 1), which bounds cluster count by
        ~delta and concentrates resolution at the tails.
        Deterministic: stable order, pure arithmetic."""
        import math

        total = float(sum(weights))
        if total == 0:
            return []

        def k(q):
            return (
                delta
                / (2 * math.pi)
                * math.asin(2 * min(max(q, 0.0), 1.0) - 1)
            )

        out = []
        cum = 0.0  # weight fully to the left of the open cluster
        cur_m, cur_w = means[0], float(weights[0])
        for m, wt in zip(means[1:], weights[1:]):
            wt = float(wt)
            q0 = cum / total
            q1 = (cum + cur_w + wt) / total
            if k(q1) - k(q0) <= 1.0:
                cur_m = (cur_m * cur_w + m * wt) / (cur_w + wt)
                cur_w += wt
            else:
                out.append((cur_m, cur_w))
                cum += cur_w
                cur_m, cur_w = m, wt
        out.append((cur_m, cur_w))
        return out

    def quantile(clusters, q: float) -> float:
        """Standard centroid interpolation: cumulative midpoints,
        linear between adjacent centroids, clamped to the extremes."""
        total = sum(w for _, w in clusters)
        t = q * total
        cum = 0.0
        mids = []
        for m, w in clusters:
            mids.append((cum + w / 2.0, m))
            cum += w
        if t <= mids[0][0]:
            return mids[0][1]
        for (c0, m0), (c1, m1) in zip(mids, mids[1:]):
            if t <= c1:
                return m0 + (m1 - m0) * (t - c0) / (c1 - c0)
        return mids[-1][1]

    return compress, quantile


_td_compress, _td_quantile = _make_td_helpers()


# k1-scale bucket boundaries, K(b) = (sin(pi*(b/delta - 1/2)) + 1)/2
# for b = 0..delta: the inverse of Dunning's k1 scale function, i.e.
# the quantile split points a delta-cluster t-digest targets (small
# clusters at both tails, wide in the middle). Computed ONCE in
# Python and embedded as identical double literals in the Spark plan
# and the DuckDB oracle (the PINNED_CENTROIDS idiom: repr round-trips
# doubles exactly in both parsers), so the bucket rank boundaries
# floor(n * K_b + 0.5) — computed once per type, floor+0.5 rather
# than ROUND because Spark's double ROUND allocates a BigDecimal
# per evaluation — are bit-identical across engines.
def _td_k_bounds() -> list[float]:
    import math

    return [
        (math.sin(math.pi * (b / TD_DELTA - 0.5)) + 1.0) / 2.0
        for b in range(TD_DELTA + 1)
    ]


TD_K_BOUNDS = _td_k_bounds()


def tdigest_merge_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GREEDY two-level mergeable t-digest (Dunning & Ertl 2019):
    partial digests per (type, salt=16-way hash split) built in
    parallel via applyInPandas over Arrow batches (each sees 1/16 of
    one type's values, never the corpus), then per-type
    digest-of-digests merge — the streaming/partitioned deployment
    shape, extending to any tree depth at 100 TB. Pytest-gated
    (accuracy-vs-exact, merge-invariance, agreement with the
    registered declarative digest); the greedy merge ORDER is not
    SQL-expressible, which is why the registered query uses the
    rank-bucket construction below instead."""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    salted = ev.select(
        "event_type",
        "value",
        (H.affine_col(F.col("event_id"), *_TD_AB) % TD_SALTS).alias("salt"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf.sort_values("value", kind="mergesort")
        cl = _td_compress(
            s["value"].tolist(), [1.0] * len(s), TD_DELTA
        )
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "mean": [m for m, _ in cl],
                "weight": [w for _, w in cl],
            }
        )

    partials = salted.groupBy("event_type", "salt").applyInPandas(
        build, "event_type string, mean double, weight double"
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf.sort_values(["mean", "weight"], kind="mergesort")
        cl = _td_compress(s["mean"].tolist(), s["weight"].tolist(), TD_DELTA)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "q": list(TD_QS),
                "est_value": [
                    round(_td_quantile(cl, q), 4) for q in TD_QS
                ],
                "n_centroids": len(cl),
            }
        )

    return (
        partials.groupBy("event_type")
        .applyInPandas(
            merge,
            "event_type string, q double, est_value double, n_centroids int",
        )
        .orderBy("event_type", "q")
    )


# Literal boundary array (identical doubles in both engines):
# K_0..K_delta, materialized ONCE per type into the bl rank array
# (r_j = floor(n*K_j + 0.5)) that drives bucket assignment — never a
# range join (the 49k-cell x 100-bound BroadcastNestedLoopJoin cost
# ~3 s at sf0.1) and never per-row re-evaluation of the literal list
# (inlined indicator sums made a ~1200-node tree whose interpreted
# evaluation + AQE replanning cost 4-8 s).
_TD_K_FULL_SQL = "[" + ", ".join(f"{k!r}" for k in TD_K_BOUNDS) + "]"
_TD_QS_SQL = ", ".join(f"({q!r})" for q in TD_QS)


def _td_oracle_sql() -> str:
    return f"""
    WITH grid AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    cells AS (
        SELECT event_type, cents, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM grid
    ),
    tb AS (
        SELECT event_type,
               list_transform({_TD_K_FULL_SQL},
                   k -> CAST(FLOOR(n * k + 0.5) AS BIGINT)) AS bl
        FROM (SELECT DISTINCT event_type, n FROM cells)
    ),
    spans AS (
        SELECT c.event_type, c.cents, c.cnt, c.cum, t.bl,
               len(list_filter(t.bl, x -> x <= c.cum - c.cnt)) - 1
                   AS b_first,
               len(list_filter(t.bl, x -> x < c.cum)) - 1 AS b_last
        FROM cells c JOIN tb t USING (event_type)
    ),
    seg AS (
        SELECT event_type, cents, b_first AS b, cnt AS w
        FROM spans WHERE b_first = b_last
        UNION ALL
        SELECT event_type, cents, b,
               LEAST(cum, bl[b + 2])
               - GREATEST(cum - cnt, bl[b + 1]) AS w
        FROM (SELECT s.*, unnest(generate_series(b_first, b_last)) AS b
              FROM spans s WHERE b_first < b_last)
    ),
    cent AS MATERIALIZED (
        SELECT event_type, b,
               CAST(SUM(w) AS BIGINT) AS w,
               CAST(SUM(cents * w) AS BIGINT) AS sc
        FROM seg WHERE w > 0 GROUP BY 1, 2
    ),
    srv AS (
        SELECT event_type, b,
               CAST(sc AS DOUBLE) / CAST(w AS DOUBLE) / 100.0 AS mean,
               2 * SUM(w) OVER (PARTITION BY event_type ORDER BY b
                                ROWS UNBOUNDED PRECEDING) - w AS two_mid,
               SUM(w) OVER (PARTITION BY event_type) AS tw,
               COUNT(*) OVER (PARTITION BY event_type) AS nc
        FROM cent
    ),
    pairs AS (
        SELECT event_type, mean, two_mid, tw, nc,
               LEAD(two_mid) OVER wb AS c1, LEAD(mean) OVER wb AS m1,
               FIRST_VALUE(mean) OVER wf AS fm,
               LAST_VALUE(mean) OVER wf AS lm,
               MIN(two_mid) OVER wp AS minc
        FROM srv
        WINDOW wb AS (PARTITION BY event_type ORDER BY b),
               wf AS (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING),
               wp AS (PARTITION BY event_type)
    ),
    qs AS (
        SELECT t.event_type, CAST(v.q AS DOUBLE) AS q
        FROM (SELECT DISTINCT event_type FROM cent) t
        CROSS JOIN (VALUES {_TD_QS_SQL}) v(q)
    ),
    est AS (
        SELECT p.event_type, q.q,
               MAX(CASE WHEN (q.q * p.tw) * 2.0 > p.two_mid
                         AND (q.q * p.tw) * 2.0 <= p.c1
                        THEN p.mean + (p.m1 - p.mean)
                             * ((q.q * p.tw) * 2.0 - p.two_mid)
                             / (p.c1 - p.two_mid) END) AS interp,
               MAX(CASE WHEN (q.q * p.tw) * 2.0 <= p.minc
                        THEN p.fm ELSE p.lm END) AS edge,
               MAX(p.nc) AS nc
        FROM pairs p JOIN qs q USING (event_type)
        GROUP BY 1, 2
    )
    SELECT event_type, q,
           ROUND(COALESCE(interp, edge), 4) AS est_value,
           CAST(nc AS INTEGER) AS n_centroids
    FROM est ORDER BY event_type, q
    """


@register(
    "tdigest_value_quantiles",
    oracle=_td_oracle_sql(),
    doc="t-digest quantiles of event value per type (Dunning & Ertl "
    "2019) — the mergeable-sketch companion of the exact sort-based "
    "percentiles (10w) and the KLL approx_percentile (10w-a). Oracle "
    "hash gate since r10 (VERDICT r9 #4b): the digest is built by the "
    "RANK-BUCKET construction — the (event_type, cents) bounded count "
    "grid (the W1/PSI/CUSUM drift-grid shape: ONE corpus shuffle to a "
    "value-domain-bounded grid, no per-row window, no giant per-type "
    "sort) is split at the k1-scale quantile boundaries floor(n*K_b + 0.5), "
    "K_b = (sin(pi*(b/delta-1/2))+1)/2 pinned as identical double "
    "literals on both engines, straddling cells splitting their "
    "weight by exact integer rank overlap. Centroid means are exact "
    "int64 cent sums over int64 weights (one division each) and "
    "serving is the standard cumulative-midpoint interpolation on "
    "2*mid integers — engine-exact end to end. The greedy two-level "
    "digest-of-digests form stays available as tdigest_merge_partials "
    "(pytest-gated: merge-invariance + agreement with this digest); "
    "state here is <= delta centroids per type.",
    tags=("sketch", "analytics"),
)
def tdigest_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grid coding is the SHARED w1_cents_col (one exact cents
    # definition across the whole drift/digest family)
    from mvrs_dspa_spark.plans.analytics4 import w1_cents_col

    ev = table(spark, sf_dir, "events")
    # the value-domain-bounded count grid feeds several serving
    # subtrees inside tdigest_from_grid (cells, per-type totals,
    # boundary ranks); materialize it once instead of re-scanning
    # events per reference (r11 — batch only: the streaming maintainer
    # hands tdigest_from_grid its own incrementally-kept grid)
    grid = (
        ev.select("event_type", w1_cents_col().alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    return tdigest_from_grid(grid)


def tdigest_from_grid(grid: DataFrame) -> DataFrame:
    """Serving tail shared by the registered batch query and the
    streaming maintainer (streaming/tdigest_stream.TDigestMonitor):
    (event_type, cents, cnt) count grid -> the per-type quantile
    table. Every input is an integer and the tail is the batch
    query's own exact pipeline, so a replayed event log reproduces
    the batch digest bit-for-bit."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cells = grid.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    # Boundary ranks r_j = floor(n * K_j + 0.5) are computed ONCE per
    # type (a |types|-row broadcast carrying the 101-long rank array),
    # not per grid row: inlining the 99-term indicator sums per row
    # made a ~1200-node expression tree whose per-stage AQE replanning
    # and interpreted evaluation cost 4-8 s at sf0.1; per-cell work is
    # now two small array filters over the broadcast rank column
    # (bl[1] = r_0 = 0 is always <= cum-cnt and bl[delta+1] = n never
    # is, hence the -1). One rank definition also feeds the straddle
    # weights below, so every consumer sees identical integers.
    k_full = F.array(*[F.lit(k) for k in TD_K_BOUNDS])
    # cells feeds tb AND spans; materialize it so the grid windows run
    # once and the downstream plans stay small (r11 second half)
    cells = cells.localCheckpoint(eager=False)
    tb = (
        cells.select("event_type", "n")
        .distinct()
        .select(
            "event_type",
            F.transform(
                k_full, lambda k: F.floor(F.col("n") * k + F.lit(0.5))
            ).alias("bl"),
        )
        # bounded (one row per type) but referenced by BOTH the span
        # assignment and the straddle re-join below
        .localCheckpoint(eager=False)
    )
    # spans is materialized NARROW (no bl column): the two array
    # filters are higher-order functions, which Spark evaluates
    # INTERPRETED (CodegenFallback) — ~0.6 s per pass over the sf0.1
    # grid — and the whole/straddle branches would otherwise each
    # re-evaluate them (plus the cells windows) once per branch; the
    # 101-literal lambda trees also bloated every AQE replan. One
    # evaluation, checkpointed; the straddle branch re-attaches bl
    # from the broadcast tb for its <= delta-1 rows per type
    # (r11 second half, guide §2.4/§4 — measured 4.7 -> ~1.5 s tail).
    spans = (
        cells.join(F.broadcast(tb), "event_type")
        .select(
            "event_type",
            "cents",
            "cnt",
            "cum",
            (
                F.size(
                    F.filter(
                        F.col("bl"),
                        lambda x: x <= F.col("cum") - F.col("cnt"),
                    )
                )
                - 1
            ).alias("b_first"),
            (F.size(F.filter(F.col("bl"), lambda x: x < F.col("cum"))) - 1)
            .alias("b_last"),
        )
        .localCheckpoint(eager=False)
    )
    r_at = lambda off: F.element_at(  # noqa: E731
        F.col("bl"), F.col("b") + off
    )
    # Cells wholly inside one bucket (the overwhelming majority: at
    # most delta-1 cells per type can straddle a boundary) are a pure
    # projection — w is the whole cell count, no boundary lookups and
    # no generator. Only straddling cells (<= delta-1 per type) pay
    # the sequence explode + literal-array lookups: GenerateExec
    # evaluates its generator expression OUTSIDE whole-stage codegen
    # (~25x slower per row measured), so keeping the generator off
    # the grid-sized path took this stage 4 s -> ~0.1 s at sf0.1.
    whole = spans.where(F.col("b_first") == F.col("b_last")).select(
        "event_type",
        "cents",
        F.col("b_first").alias("b"),
        F.col("cnt").alias("w"),
    )
    straddle = (
        spans.where(F.col("b_first") < F.col("b_last"))
        # re-attach the boundary-rank array from the broadcast tb: only
        # the <= delta-1 straddling rows per type carry the 101-long
        # array, instead of every materialized span row
        .join(F.broadcast(tb), "event_type")
        .select(
            "event_type",
            "cents",
            "cnt",
            "cum",
            "bl",
            F.explode(F.sequence("b_first", "b_last")).alias("b"),
        )
        .select(
            "event_type",
            "cents",
            "b",
            (
                F.least(F.col("cum"), r_at(2))
                - F.greatest(F.col("cum") - F.col("cnt"), r_at(1))
            ).alias("w"),
        )
    )
    seg = whole.unionByName(straddle).where(F.col("w") > 0)
    cent = seg.groupBy("event_type", "b").agg(
        F.sum("w").cast("long").alias("w"),
        F.sum(F.col("cents") * F.col("w")).cast("long").alias("sc"),
    )
    w_b = Window.partitionBy("event_type").orderBy("b")
    w_bcum = w_b.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_full = w_b.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    srv = cent.select(
        "event_type",
        "b",
        (F.col("sc").cast("double") / F.col("w").cast("double") / 100.0)
        .alias("mean"),
        (2 * F.sum("w").over(w_bcum) - F.col("w")).alias("two_mid"),
        F.sum("w").over(w_all).alias("tw"),
        F.count(F.lit(1)).over(w_all).alias("nc"),
    )
    pairs = srv.select(
        "event_type",
        "mean",
        "two_mid",
        "tw",
        "nc",
        F.lead("two_mid").over(w_b).alias("c1"),
        F.lead("mean").over(w_b).alias("m1"),
        F.first("mean").over(w_full).alias("fm"),
        F.last("mean").over(w_full).alias("lm"),
        F.min("two_mid").over(w_all).alias("minc"),
    )
    t2 = (F.col("q") * F.col("tw")) * F.lit(2.0)
    interp = F.when(
        (t2 > F.col("two_mid")) & (t2 <= F.col("c1")),
        F.col("mean")
        + (F.col("m1") - F.col("mean"))
        * (t2 - F.col("two_mid"))
        / (F.col("c1") - F.col("two_mid")),
    )
    edge = F.when(t2 <= F.col("minc"), F.col("fm")).otherwise(F.col("lm"))
    # fan the 7 probe quantiles onto each centroid row directly (a
    # literal-array explode) — no separate qs branch, so the corpus
    # subtree is consumed exactly once end to end
    return (
        pairs.withColumn(
            "q", F.explode(F.array(*[F.lit(float(q)) for q in TD_QS]))
        )
        .groupBy("event_type", "q")
        .agg(
            F.max(interp).alias("interp"),
            F.max(edge).alias("edge"),
            F.max("nc").alias("nc"),
        )
        .select(
            "event_type",
            "q",
            F.round(F.coalesce("interp", "edge"), 4).alias("est_value"),
            F.col("nc").cast("int").alias("n_centroids"),
        )
        .orderBy("event_type", "q")
    )


# --- theta sketch pairwise intersections ------------------------------------


@register(
    "theta_sketch_overlap",
    oracle=f"""
        WITH codes AS (
            SELECT DISTINCT event_type,
                   {H.affine_sql("user_id", *_THETA_AB)} AS code
            FROM events
        ),
        types AS (SELECT DISTINCT event_type FROM codes),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b
            FROM types a JOIN types b ON a.event_type < b.event_type
        ),
        per_type AS (
            SELECT event_type,
                   COUNT(*) AS n_exact,
                   CASE WHEN COUNT(*) < {THETA_K} THEN COUNT(*)::DOUBLE
                        ELSE ({THETA_K} - 1) * {H.P}::DOUBLE
                             / MAX(CASE WHEN rn = {THETA_K} THEN code END)
                   END AS est
            FROM (
                SELECT event_type, code,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY code) AS rn
                FROM codes
            ) GROUP BY event_type
        ),
        pair_codes AS (
            SELECT DISTINCT p.type_a, p.type_b, m.code
            FROM pairs p
            JOIN codes m ON m.event_type IN (p.type_a, p.type_b)
        ),
        pair_union AS (
            SELECT type_a, type_b,
                   COUNT(*) AS u_exact,
                   CASE WHEN COUNT(*) < {THETA_K} THEN COUNT(*)::DOUBLE
                        ELSE ({THETA_K} - 1) * {H.P}::DOUBLE
                             / MAX(CASE WHEN rn = {THETA_K} THEN code END)
                   END AS est_union
            FROM (
                SELECT type_a, type_b, code,
                       ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                                          ORDER BY code) AS rn
                FROM pair_codes
            ) GROUP BY type_a, type_b
        ),
        pair_exact AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS inter_exact
            FROM codes a JOIN codes b
              ON a.code = b.code AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT u.type_a, u.type_b,
               CAST(COALESCE(x.inter_exact, 0) AS BIGINT) AS inter_exact,
               ROUND(GREATEST(pa.est + pb.est - u.est_union, 0), 4)
                   AS est_inter,
               ROUND(u.est_union, 4) AS est_union,
               ROUND(pa.est, 4) AS est_a,
               ROUND(pb.est, 4) AS est_b
        FROM pair_union u
        JOIN per_type pa ON pa.event_type = u.type_a
        JOIN per_type pb ON pb.event_type = u.type_b
        LEFT JOIN pair_exact x
          ON x.type_a = u.type_a AND x.type_b = u.type_b
        ORDER BY u.type_a, u.type_b
    """,
    doc="Pairwise audience-overlap estimates from the theta/KMV "
    "sketches (#108's promised set algebra, executed): for every "
    "unordered event-type pair, estimated intersection by "
    "inclusion-exclusion (est_a + est_b - est_union, clamped at 0) "
    "where the union estimate re-selects the k smallest codes of the "
    "merged sample — the 'how many users do segments A and B share' "
    "question sketches exist to answer without re-scanning either "
    "segment. Exact intersections ride along as the comparison twin "
    "(published-estimator convention of #85). The pair fan-out joins "
    "each distinct (type, code) row against the broadcast "
    "type-pair table (bounded x(T-1) duplication, same shape as the "
    "lag-offset broadcast in #88); at production T this is sketch "
    "algebra over stored k-row sketches, never a corpus re-scan.",
    tags=("sketch", "analytics"),
)
def theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    # the distinct (type, code) frame feeds five subtrees (type list,
    # per-type estimates, the pair fan-out, both exact-intersection
    # sides) — before r11 each re-ran the events scan + distinct
    # (7 scans in the plan). Materialize it once: one corpus pass,
    # everything downstream is bounded by distinct users x types.
    codes = (
        ev.select(
            "event_type",
            H.affine_col(F.col("user_id"), *_THETA_AB).alias("code"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    types = codes.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )

    w_t = Window.partitionBy("event_type").orderBy("code")
    n = F.count(F.lit(1))
    kth = F.max(F.when(F.col("rn") == THETA_K, F.col("code")))
    est_expr = F.when(n < THETA_K, n.cast("double")).otherwise(
        F.lit(float(THETA_K - 1)) * F.lit(float(H.P)) / kth
    )
    per_type = (
        codes.withColumn("rn", F.row_number().over(w_t))
        .groupBy("event_type")
        .agg(est_expr.alias("est"))
    )

    fanned = codes.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("type_a"))
        | (F.col("event_type") == F.col("type_b")),
    )
    merged = fanned.select("type_a", "type_b", "code").distinct()
    w_p = Window.partitionBy("type_a", "type_b").orderBy("code")
    pair_union = (
        merged.withColumn("rn", F.row_number().over(w_p))
        .groupBy("type_a", "type_b")
        .agg(est_expr.alias("est_union"))
    )

    a = codes.select(F.col("event_type").alias("type_a"), "code")
    b = codes.select(F.col("event_type").alias("type_b"), "code")
    pair_exact = (
        a.join(b, "code")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("inter_exact"))
    )

    pa = per_type.select(
        F.col("event_type").alias("type_a"), F.col("est").alias("est_a_raw")
    )
    pb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("est").alias("est_b_raw")
    )
    return (
        pair_union.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .join(pair_exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce("inter_exact", F.lit(0)).cast("long").alias(
                "inter_exact"
            ),
            F.round(
                F.greatest(
                    F.col("est_a_raw")
                    + F.col("est_b_raw")
                    - F.col("est_union"),
                    F.lit(0.0),
                ),
                4,
            ).alias("est_inter"),
            F.round("est_union", 4).alias("est_union"),
            F.round("est_a_raw", 4).alias("est_a"),
            F.round("est_b_raw", 4).alias("est_b"),
        )
        .orderBy("type_a", "type_b")
    )


# --- engine-portable Bloom filter -------------------------------------------

BLOOM_M = 4096  # bits
BLOOM_K = 4     # hash functions
_BLOOM_ABS = H.hash_params(BLOOM_K, seed=7272)


def _bloom_hash_cols() -> list:
    return [
        (H.affine_col(F.col("user_id"), *ab) % BLOOM_M).alias(f"b{i}")
        for i, ab in enumerate(_BLOOM_ABS)
    ]


def bloom_bits(known: DataFrame) -> DataFrame:
    """Distinct set-bit rows for a known-user frame — ONE definition
    shared by the registered batch query and the streaming Bloom
    maintainer (streaming/bloom_stream.BloomMonitor). Bounded by m."""
    return known.select(
        F.explode(F.array(*_bloom_hash_cols())).alias("bit")
    ).distinct()


def bloom_claims(probes: DataFrame, bits: DataFrame) -> DataFrame:
    """user_id rows the filter claims present (ALL k bits set) —
    shared membership-serving tail."""
    probe_bits = probes.select(
        "user_id",
        F.posexplode(F.array(*_bloom_hash_cols())).alias("i", "bit"),
    )
    return (
        probe_bits.join(F.broadcast(bits), "bit")
        .groupBy("user_id")
        .agg(F.countDistinct("i").alias("nh"))
        .where(F.col("nh") == BLOOM_K)
        .select("user_id")
    )


@register(
    "bloom_membership_report",
    oracle=f"""
        WITH known AS (
            SELECT DISTINCT user_id FROM events WHERE user_id % 3 <> 0
        ),
        probes AS (SELECT DISTINCT user_id FROM events),
        bits AS (
            SELECT DISTINCT bit FROM known, (VALUES {", ".join(f"({i})" for i in range(BLOOM_K))}) AS h(i),
            LATERAL (SELECT CASE h.i {" ".join(f"WHEN {i} THEN ({H.affine_sql('user_id', *ab)}) % {BLOOM_M}" for i, ab in enumerate(_BLOOM_ABS))} END AS bit) b
        ),
        probe_bits AS (
            SELECT p.user_id, h.i,
                   CASE h.i {" ".join(f"WHEN {i} THEN ({H.affine_sql('user_id', *ab)}) % {BLOOM_M}" for i, ab in enumerate(_BLOOM_ABS))} END AS bit
            FROM probes p, (VALUES {", ".join(f"({i})" for i in range(BLOOM_K))}) AS h(i)
        ),
        claimed AS (
            SELECT pb.user_id
            FROM probe_bits pb JOIN bits b ON pb.bit = b.bit
            GROUP BY pb.user_id
            HAVING COUNT(DISTINCT pb.i) = {BLOOM_K}
        )
        SELECT {BLOOM_M} AS m_bits, {BLOOM_K} AS k_hashes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM known) AS n_known,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM claimed) AS n_claimed,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM claimed c
                JOIN known k ON c.user_id = k.user_id) AS n_true_members,
               ROUND((SELECT COUNT(*) FROM claimed c
                      ANTI JOIN known k ON c.user_id = k.user_id)
                     / GREATEST((SELECT COUNT(*) FROM probes p
                                 ANTI JOIN known k2
                                 ON p.user_id = k2.user_id), 1)::DOUBLE,
                     6) AS fp_rate,
               ROUND(POWER((SELECT COUNT(*) FROM bits)
                           / {BLOOM_M}.0, {BLOOM_K}), 6)
                   AS fp_theoretical
    """,
    doc="Engine-portable Bloom filter (Bloom 1970) — the MEMBERSHIP "
    "sketch completing the portable family (HLL #84 distinct, CMS #75 "
    "frequency, theta #108 set algebra, t-digest #116 quantiles): a "
    f"{BLOOM_M}-bit / {BLOOM_K}-hash filter built over the known-user "
    "set (same explicit affine hash discipline — the transparent twin "
    "of Spark's opaque runtime bloom pruning, 29l), probed with every "
    "user; a probe is claimed present iff ALL k bit positions are "
    "set. Measured false-positive rate over true non-members rides "
    "next to the (bits_set/m)^k theoretical rate, and NO member may "
    "be missed (zero false negatives, the Bloom guarantee — "
    "pytest-pinned). The bit table is bounded by m; build and probe "
    "are each one distinct + k-way bounded fan-out; the bit-match "
    "join keys on bit position over a <=m-row build side.",
    tags=("sketch", "validation"),
)
def bloom_membership_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # the distinct-user frame feeds every downstream consumer (known
    # set, probe set, the three claim counts, the non-member count) —
    # before r11 each one re-ran the events scan + distinct (13 scans
    # in the plan). Materialize it once (user-bounded); `claimed` is
    # likewise read by three counters, so the (<= users) claim list is
    # materialized too. events scans: 13 -> 1.
    users = ev.select("user_id").distinct().localCheckpoint(eager=False)
    known = users.where(F.col("user_id") % 3 != 0)
    bits = bloom_bits(known)
    claimed = bloom_claims(users, bits).localCheckpoint(eager=False)
    n_bits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    n_known = known.agg(F.count(F.lit(1)).alias("n_known"))
    n_probes = users.agg(F.count(F.lit(1)).alias("n_probes"))
    n_claimed = claimed.agg(F.count(F.lit(1)).alias("n_claimed"))
    n_true = claimed.join(known, "user_id").agg(
        F.count(F.lit(1)).alias("n_true_members")
    )
    n_fp = claimed.join(known, "user_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    n_nonmem = users.join(known, "user_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_nonmem")
    )
    return (
        n_bits.crossJoin(F.broadcast(n_known))
        .crossJoin(F.broadcast(n_probes))
        .crossJoin(F.broadcast(n_claimed))
        .crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_fp))
        .crossJoin(F.broadcast(n_nonmem))
        .select(
            F.lit(BLOOM_M).alias("m_bits"),
            F.lit(BLOOM_K).alias("k_hashes"),
            "bits_set",
            "n_known",
            "n_probes",
            "n_claimed",
            "n_true_members",
            F.round(
                F.col("n_fp")
                / F.greatest(F.col("n_nonmem"), F.lit(1)).cast("double"),
                6,
            ).alias("fp_rate"),
            F.round(
                F.pow(F.col("bits_set") / float(BLOOM_M), BLOOM_K), 6
            ).alias("fp_theoretical"),
        )
    )
