"""Reply-tree / parent-pointer root resolution (SURVEY §2e #27).

PySpark re-expression of the reference's reply-tree reconstruction
(`streams/BuildReplyTreeProcessFunction.scala`): nested replies carry
only a parent pointer; the job resolves each reply to its root post,
dropping "dangling" replies whose ancestor chain never reaches a
stored root.

Spark-first design: **pointer doubling** (path halving). Each
iteration joins the link table to itself, so every node's known
ancestor jumps twice as far up the chain; a chain of depth d resolves
in ceil(log2 d) shuffles instead of d. At 100 TB this is the
difference between ~6 self-joins and thousands: per-level iteration
(the naive translation of the reference's one-event-at-a-time
buffering) is O(depth) shuffles over the full table, while doubling
is O(log depth) with the same per-iteration cost. Lineage is cut with
localCheckpoint per round so the plan does not grow exponentially.

The driver-checkable query derives a deterministic forest from
`events` (every 5th event is a root; others point 1-7 ids back;
pointers below id 0 are dangling) and must match DuckDB's
WITH RECURSIVE resolution exactly, including the dangling-exclusion
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table


def resolve_roots(nodes: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Resolve every node to its root via pointer doubling.

    `nodes` has one row per node (`id`) with a nullable `parent_id`.
    Returns (id, root_id, depth) for every node whose chain reaches a
    root (parent IS NULL); nodes whose chain hits a missing parent id
    (dangling replies, ref BuildReplyTreeProcessFunction.scala) are
    excluded, matching SQL WITH RECURSIVE semantics.
    """
    link = nodes.select(
        F.col("id"),
        F.coalesce(F.col("parent_id"), F.col("id")).alias("anc"),
        F.when(F.col("parent_id").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .alias("depth"),
        F.col("parent_id").isNull().alias("done"),
        F.lit(False).alias("dangling"),
        # eager, NOT lazy: the per-round convergence check (isEmpty)
        # evaluates only a LIMIT-1 prefix, which does not fully
        # materialize a lazy checkpoint — the next round then re-runs
        # the whole un-materialized lineage chain (measured 1.7 ->
        # 9.7 s noop at sf0.1 with eager=False in r11; reverted)
    ).localCheckpoint(eager=True)

    for _ in range(max_rounds):
        if link.filter(~F.col("done")).isEmpty():
            break
        anc = link.select(
            F.col("id").alias("a_id"),
            F.col("anc").alias("a_anc"),
            F.col("depth").alias("a_depth"),
            F.col("done").alias("a_done"),
            F.col("dangling").alias("a_dangling"),
        )
        link = (
            link.join(anc, link["anc"] == anc["a_id"], "left")
            .select(
                "id",
                F.when(F.col("done") | F.col("a_id").isNull(), F.col("anc"))
                .otherwise(F.col("a_anc"))
                .alias("anc"),
                F.when(F.col("done") | F.col("a_id").isNull(), F.col("depth"))
                .otherwise(F.col("depth") + F.col("a_depth"))
                .alias("depth"),
                (
                    F.col("done")
                    | F.col("a_id").isNull()  # missing ancestor -> dangling, settled
                    | F.col("a_done")
                ).alias("done"),
                (
                    F.col("dangling")
                    | (~F.col("done") & (F.col("a_id").isNull() | F.col("a_dangling")))
                ).alias("dangling"),
            )
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"root resolution did not converge in {max_rounds} rounds")

    return link.filter(~F.col("dangling")).select(
        "id", F.col("anc").alias("root_id"), "depth"
    )


_FOREST_SQL = """
    SELECT event_id AS id,
           CASE WHEN event_id % 5 = 0 THEN NULL
                ELSE event_id - 1 - (event_id % 7) END AS parent_id
    FROM events
"""


def _event_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("event_id") - 1 - (F.col("event_id") % 7))
        .alias("parent_id"),
    )


@register(
    "reply_tree_roots",
    oracle=f"""
        WITH RECURSIVE nodes AS ({_FOREST_SQL}),
        r AS (
            SELECT id, id AS root_id, 0 AS depth FROM nodes WHERE parent_id IS NULL
            UNION ALL
            SELECT n.id, r.root_id, r.depth + 1
            FROM nodes n JOIN r ON n.parent_id = r.id
        )
        SELECT id, root_id, depth FROM r ORDER BY id
    """,
    doc="Reply-tree root resolution by pointer doubling over a "
    "deterministic parent forest derived from events "
    "(ref BuildReplyTreeProcessFunction.scala; dangling replies dropped).",
    tags=("graph",),
)
def reply_tree_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resolve_roots(_event_forest(spark, sf_dir)).orderBy("id")


@register(
    "reply_tree_stats",
    oracle=f"""
        WITH RECURSIVE nodes AS ({_FOREST_SQL}),
        r AS (
            SELECT id, id AS root_id, 0 AS depth FROM nodes WHERE parent_id IS NULL
            UNION ALL
            SELECT n.id, r.root_id, r.depth + 1
            FROM nodes n JOIN r ON n.parent_id = r.id
        )
        SELECT root_id,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MAX(depth) AS BIGINT) AS max_depth,
               CAST(COUNT(*) FILTER (WHERE depth = 1) AS BIGINT)
                   AS n_direct_replies
        FROM r
        GROUP BY root_id
        ORDER BY root_id
    """,
    doc="Per-thread statistics over the resolved reply forest: node "
    "count, max depth, direct replies — the post-engagement rollup the "
    "reference derives from its reply trees. One extra shuffle on "
    "root_id after the O(log depth) doubling rounds.",
    tags=("graph",),
)
def reply_tree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = resolve_roots(_event_forest(spark, sf_dir))
    return (
        r.groupBy("root_id")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("depth").cast("long").alias("max_depth"),
            F.count_if(F.col("depth") == 1).alias("n_direct_replies"),
        )
        .orderBy("root_id")
    )
