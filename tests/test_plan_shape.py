"""Physical-plan shape assertions (SURVEY §4/§5 scale posture).

These lock in the properties that matter at 100 TB and would silently
regress otherwise: predicate pushdown into the parquet scan, column
pruning, broadcast of dimension tables, equi-join (not cross/nested-
loop) for LSH candidate generation, and map-side partial aggregation.
"""

from __future__ import annotations

import pytest

from mvrs_dspa_spark.plans.registry import all_queries

# one-row broadcast joins (min-ts / mean / total scalars) legitimately
# plan as BroadcastNestedLoopJoin; everything else must be equi-join
_SCALAR_BNLJ_OK = {
    "ann_cosine_topk",      # broadcast query-point set
    "embedding_near_dup",   # broadcast norms scalar
    "unusual_activity",     # 1-row max_n / mean_dist scalars
    "similar_users_jaccard",  # 1-row activity-cutoff scalar
    "q22_idle_rich_customers",  # 1-row avg-balance scalar subquery
    "q11_concentrated_part_value",  # 1-row value-threshold scalar
    "q15_top_supplier",  # 1-row max-revenue scalar
    "lang_mix_temperature",  # 1-row min-count scalar broadcast
    "boilerplate_ngrams",  # 1-row total-docs scalar broadcast
    "doc_unigram_logprob",  # 1-row total-tokens scalar broadcast
    "doc_bigram_logprob",  # 1-row total-tokens scalar broadcast
    "bm25_search",  # 1-row corpus-stats (n_docs, avgdl) broadcast
    "tfidf_top_terms",  # 1-row n_docs scalar broadcast
    "token_coverage_curve",  # 1-row corpus-total scalar broadcast
    "item_cooccurrence_triangles",  # 1-row n_users scalar broadcast
    # compositions inherit their components' allowlisted joins:
    "dedup_modality_agreement",  # embedding_near_dup's theta baseline
    "recommendation_agreement",  # jaccard's 1-row cutoff scalar
    "item_pagerank",  # 1-row n_users scalar broadcast (as triangles)
    "user_decayed_activity",  # 1-row t_ref scalar broadcast
    "incremental_hourly_rollup",  # 1-row cutoff scalar broadcast
    "negative_samples",  # 1-row vocab-size scalar broadcast
    "temporal_split",  # 1-row time-range scalar broadcast
    "value_drift_psi",  # 1-row time-range scalar broadcast
    "source_token_divergence",  # bounded |sources| x vocab smoothing grid
    "woe_information_value",  # 1-row pos/neg-total scalar broadcast
    "zorder_clustering",  # 1-row extent (min/max) scalar broadcast
    "als_implicit_recs",  # cap-bounded 20-user serving sample broadcast
    "hybrid_search",  # 1-row pinned query-vector broadcast
    "value_drift_ks",  # 1-row time-range scalar broadcast
    "value_wasserstein_drift",  # 1-row time-range scalar broadcast
    "user_rfm_segments",  # 1-row now + quintile-edges scalar broadcasts
    "event_dow_chisq",  # 1-row contingency-total scalar broadcast
    "bigram_pmi",  # 1-row unigram/bigram-total scalar broadcasts
    "events_snapshot_diff",  # 1-row time-range scalar broadcast
    "join_size_estimate",  # 1-row exact x 1-row estimate scalar joins
    "cdc_merge_apply",  # 1-row time-range scalar broadcast
    "dedup_method_eval",  # three 1-row count scalars cross-joined
    "knn_label_eval",  # broadcast probe set (same bound as topk)
    "kmeans_label_agreement",  # bounded contingency-table scalars
    "hourly_crosscorr_leadlag",  # 5-row lag-offset broadcast fan-out
    "decontaminate_semantic",  # bounded benchmark-suite broadcast
    "curriculum_manifest",  # 1-row quartile-edges scalar broadcast
    # round-6 registrations:
    "rfm_segment_counts",  # inherits user_rfm_segments' scalar broadcasts
    "user_lifecycle_stages",  # 1-row time-range scalar broadcast
    "value_ttest_by_type",  # 1-row global-moments scalar broadcast
    "haversine_store_assignment",  # 25-row store-dimension broadcast fan-out
    "entity_resolution_blocking",  # 1-row n_names scalar broadcast
    "graph_degree_stats",  # 1-row n_users scalar broadcast (as triangles)
    "kaplan_meier_conversion",  # 1-row horizon + total-count scalar broadcasts
    "dsir_importance_weights",  # 1-row token-totals scalar broadcast
    "theta_sketch_overlap",  # bounded type-pair broadcast fan-out (10 rows)
    "embedding_truncation_eval",  # broadcast query-point set (as topk)
    "knn_confidence_calibration",  # broadcast probe set (same bound as topk)
    "basket_lift_pairs",  # 1-row basket-total scalar broadcast
    "bloom_membership_report",  # seven 1-row count scalars cross-joined
    # waves 7-9:
    "nb_lang_classifier",  # bounded |langs| candidate broadcast fan-out
    "ann_ndcg_eval",  # broadcast probe set (same bound as topk)
    "knn_shapley_data_values",  # broadcast probe set (same bound as topk)
    "ncm_classifier_eval",  # bounded |labels| centroid broadcast fan-out
    "doremi_domain_weights",  # 1-row token-total scalar broadcast
    "forecast_backtest_mase",  # 1-row hour-bounds scalar broadcast
    "hourly_burstiness",  # 1-row hour-bounds scalar broadcast
    "blocklist_filter_report",  # 1-row n_docs scalar broadcast
    "heaps_law_fit",  # 10-row checkpoint broadcast range fan-out
    "hourly_theil_sen_trend",  # 1-row bucket-width scalar broadcast
    "daily_growth_accounting",  # 1-row max-day scalar broadcast
    "ab_test_cuped",  # 1-row time-range scalar broadcast
    # round-8 second wave:
    "value_mannwhitney_by_type",  # 1-row (n, tie_t) scalar broadcast
    "kruskal_wallis_value",  # 1-row (n, tie_t) scalar broadcast
    "shapley_channel_attribution",  # bounded 2^k coalition-lattice joins
    "graph_clustering_coefficient",  # 1-row n_users scalar broadcast (as triangles)
    "graph_assortativity",  # 1-row n_users/n_nodes/n_edges scalar broadcasts
    "graph_kcore_summary",  # 1-row n_users + per-k core-count scalar broadcasts
    "mannwhitney_fdr_bh",  # inherits #178's 1-row (n, tie_t) scalar broadcast
    "did_analysis",  # 1-row time-range scalar broadcast (drift convention)
    "user_capture_recapture",  # 1-row time-range scalar broadcast
    "embedding_intrinsic_dim",  # broadcast probe set (same bound as topk)
    "conversion_trend_cochran_armitage",  # 1-row min-day scalar broadcast
    "ql_dirichlet_search",  # 1-row corpus-total scalar broadcast (as bm25)
    "value_drift_divergences",  # 1-row time-range scalar broadcast
    # round 9:
    "item_communities_lpa",  # 1-row n_users + 1-row exact-Q scalar broadcasts
}


def _plan(spark, sf_small, name: str) -> str:
    df = all_queries()[name].fn(spark, sf_small)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return je.explainString(mode)


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_cartesian_product(spark, sf_small, name):
    plan = _plan(spark, sf_small, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _SCALAR_BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join; candidate/feature joins "
            "must stay equi-joins at scale"
        )


def test_q1_pushdown_and_pruning(spark, sf_small):
    plan = _plan(spark, sf_small, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "PushedFilters" in plan and "l_shipdate" in plan
    ), "shipdate filter not pushed to parquet scan"
    # column pruning: q1 touches 7 lineitem columns; wide text columns
    # must not reach the scan schema
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[: scan.index("\n\n")] if "\n\n" in scan else scan
    assert "l_comment" not in read_schema, "scan reads unused columns"


def test_q3_broadcasts_dimension(spark, sf_small):
    plan = _plan(spark, sf_small, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan, "customer dim should broadcast"


def test_lsh_candidate_joins_are_equi(spark, sf_small):
    for name in ("dedup_minhash_lsh", "similar_users_minhash_lsh", "ann_lsh"):
        plan = _plan(spark, sf_small, name)
        assert (
            "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        ), f"{name}: band-bucket join must be hash/merge equi-join"


@pytest.mark.parametrize(
    "name", ["similar_users_minhash_lsh", "dedup_minhash_lsh"]
)
def test_lsh_bucket_generator_reads_projected_band_hashes(
    spark, sf_small, name
):
    """The band-hash array is projected once and the generator reads
    the column. A generator over the inline fold array plans the 16
    folds twice: in the Generate and again in the Project above it,
    once per exploded row. The outer generator keeps Spark from
    inferring a `size(bhs) > 0` filter below that Project, a second
    fold per set; the bucket stage stays whole-stage codegen."""
    import re

    df = all_queries()[name].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    gens = [ln for ln in plan.splitlines() if "Generate posexplode(" in ln]
    assert len(gens) >= 2, plan  # one per band self-join side
    for ln in gens:
        assert re.search(r"Generate posexplode\(bhs#\d+\)", ln), ln
        assert "element_at" not in ln, ln
    assert "size(" not in plan, plan
    df.collect()  # the adaptive plan inserts codegen stages as it runs
    final = df._jdf.queryExecution().executedPlan().toString()
    starred = re.findall(r"\*\(\d+\) Generate posexplode\(bhs#\d+\)", final)
    assert len(starred) >= 2, final


def test_q6_full_pushdown(spark, sf_small):
    """Every q6 predicate must reach the parquet scan — at 100 TB the
    scan, not the agg, is the whole query."""
    plan = _plan(spark, sf_small, "q6_forecast_revenue")
    pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"q6 {col} predicate not pushed to scan"


def test_q2_single_agg_shuffle_before_window(spark, sf_small):
    """The q2 min-over-group join-back must be window-over-agg (one
    shuffle reused), not a self-join of the costs subplan."""
    import re

    plan = _plan(spark, sf_small, "q2_min_cost_supplier")
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 3, (
        f"q2 plans {n_scans} scans; it should scan lineitem once "
        "(window-min join-back), not self-join two cost subplans"
    )
    assert "Window" in plan


def test_q21_exists_as_semi_anti_joins(spark, sf_small):
    """Correlated EXISTS/NOT-EXISTS must plan as equi semi/anti joins
    on l_orderkey with residual suppkey conditions — never a
    nested-loop over lineitem."""
    plan = _plan(spark, sf_small, "q21_sole_return_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sliding_stats_partial_aggregation(spark, sf_small):
    plan = _plan(spark, sf_small, "sliding_activity_stats")
    assert "partial_count" in plan or "partial_" in plan, (
        "window stats must partial-aggregate before the shuffle"
    )


def test_train_test_split_is_narrow(spark, sf_small):
    """Split assignment is a pure projection: no join, no aggregate,
    no exchange other than the final presentation sort — at 100 TB it
    must stay scan-throughput-bound."""
    plan = _plan(spark, sf_small, "train_test_split")
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_pack_sequences_single_source_shuffle(spark, sf_small):
    """Packing shuffles once on source for the window; the (source,
    bin) re-aggregation must reuse that partitioning, not add a
    second wide exchange before the final sort."""
    import re

    plan = _plan(spark, sf_small, "pack_sequences")
    n_hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash_exchanges <= 1, (
        f"pack_sequences plans {n_hash_exchanges} hash exchanges; the "
        "window partitioning must be reused by the bin aggregation"
    )
    assert "Window" in plan


def test_q4_exists_as_semi_join(spark, sf_small):
    """The EXISTS subquery must plan as an equi semi join on
    l_orderkey with the shipdate comparison as a residual condition,
    never a per-order nested loop."""
    plan = _plan(spark, sf_small, "q4_late_shipping_priority")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q8_dims_broadcast(spark, sf_small):
    """q8's dims all broadcast: the only sort-merge-eligible join is
    lineitem-orders (fact-fact)."""
    plan = _plan(spark, sf_small, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_ann_cosine_topk_query_broadcast_is_bounded(spark, sf_small):
    # the broadcast query side must carry the constant vec_id cap all the
    # way into the parquet scan — without it the broadcast grows linearly
    # with the table
    from mvrs_dspa_spark.operators.ann import MAX_QUERIES, QUERY_MOD

    plan = _plan(spark, sf_small, "ann_cosine_topk")
    bound = QUERY_MOD * MAX_QUERIES
    assert f"LessThan(vec_id,{bound})" in plan, plan


def test_asof_join_is_single_exchange_no_join(spark, sf_small):
    # union-tag as-of: one hash exchange on user_id, ZERO join operators
    # (a range/theta join here would explode at scale)
    plan = _plan(spark, sf_small, "click_purchase_asof")
    body = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in body, body
    n_hash_exchanges = body.count("Arguments: hashpartitioning")
    assert n_hash_exchanges == 1, body


def test_interval_join_is_equi_not_nested_loop(spark, sf_small):
    # the bucketed rewrite must surface as an equi-join on
    # (user_id, _bucket); a raw theta join would be BroadcastNestedLoop
    plan = _plan(spark, sf_small, "error_purchase_precursor_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_runtime_bloom_filter_injection(spark, sf_small):
    """Catalyst's runtime bloom filter prunes the big probe side of a
    shuffle join before the exchange — the shuffle-volume killer at
    100 TB. The production thresholds (creation side <= 10 MB,
    application scan >= 10 GB) only meet on a real cluster, so this
    lock lowers them to prove the engine's plans stay eligible for
    the rewrite: a selective dim filter + non-broadcast equi-join
    must surface might_contain on the probe-side scan."""
    from pyspark.sql import functions as F

    from mvrs_dspa_spark.tables import table

    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = table(spark, sf_small, "lineitem")
        orders = table(spark, sf_small, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def _optimized(spark, sf_small, name: str) -> str:
    df = all_queries()[name].fn(spark, sf_small)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_jaccard_only_scalar_broadcast_hint(spark, sf_small):
    """similar_users_jaccard may force-broadcast ONLY the 1-row
    activity-cutoff scalar. Round 2 hinted per-user sizes/active
    tables and the known-pairs set — all O(users)-or-worse build
    sides whose forced hints bypass autoBroadcastJoinThreshold and
    OOM executors at 100x. AQE is free to add broadcasts for
    genuinely small sides; user-forced hints are the hazard."""
    plan = _optimized(spark, sf_small, "similar_users_jaccard")
    assert plan.count("ResolvedHint") <= 1, plan


def test_ngram_jaccard_no_broadcast_hint(spark, sf_small):
    """The Jaccard denominator must ride the exploded shingle rows —
    no forced per-doc sizes broadcast (unbounded build side)."""
    plan = _optimized(spark, sf_small, "ngram_jaccard_pairs")
    assert "ResolvedHint" not in plan, plan


def test_sliding_stats_no_broadcast_hint(spark, sf_small):
    """The new-user flag must come from an analytic min over the
    aggregated rows, not a forced-broadcast per-user firsts table
    (unbounded build side)."""
    plan = _optimized(spark, sf_small, "sliding_activity_stats")
    assert "ResolvedHint" not in plan, plan
    phys = _plan(spark, sf_small, "sliding_activity_stats")
    assert "Window" in phys


@pytest.mark.parametrize(
    "name",
    [
        "top_user_per_type",
        "similar_users_jaccard",
        "similar_users_minhash_lsh",
        "ann_cosine_topk",
        "ann_ivf",
        "source_quota_cap",
        "latest_events_snapshot",
        "tfidf_top_terms",
    ],
)
def test_topn_queries_get_window_group_limit(spark, sf_small, name):
    """Every rank<=N filter must compile to WindowGroupLimit: Spark
    then keeps only the per-partition top-N BEFORE the window
    shuffle, so at scale the exchange carries k rows per key instead
    of every candidate row. Losing this (e.g. by filtering on a
    derived column instead of the rank itself) silently reverts to
    shuffling the full candidate set."""
    from mvrs_dspa_spark.plans.registry import all_queries

    df = all_queries()[name].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, f"{name} lost WindowGroupLimit"


def test_embedding_quantize_pruned_and_join_free(spark, sf_small):
    """Quantization is a pure per-row projection: the scan must read
    only (vec_id, embedding) — never label — and the plan must contain
    no join and no aggregation exchange (the only exchange allowed is
    the final global sort)."""
    plan = _plan(spark, sf_small, "embedding_quantize")
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[: scan.index("\n\n")] if "\n\n" in scan else scan
    assert "label" not in read_schema, "scan reads unused label column"
    assert "Join" not in plan, "quantize must stay join-free"
    assert plan.count("Exchange") <= 2, (  # rangepartition + its reuse line
        "quantize must not shuffle except for the final sort"
    )


def test_bm25_joins_all_broadcast(spark, sf_small):
    """BM25's df table (<= |query terms| rows) and the 1-row stats
    scalar must both broadcast — a SortMergeJoin here would shuffle
    the postings on term, which is pure overhead when one side is
    constant-bounded."""
    plan = _plan(spark, sf_small, "bm25_search")
    assert "SortMergeJoin" not in plan, "bm25 join must broadcast"
    assert "BroadcastHashJoin" in plan


def test_weighted_sample_is_take_ordered_not_full_sort(spark, sf_small):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject
    (per-partition top-K heaps + single merge), never a global Sort —
    the difference between O(k) and O(n log n) memory at scale."""
    df = all_queries()["weighted_sample_topk"].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_cms_single_corpus_pass_no_join(spark, sf_small):
    """Since r11 the grid derives from the vocab counts (a cell's
    count == the sum of exact counts of the tokens hashing to it), so
    the plan must tokenize the corpus ONCE and serve the estimate via
    a (j, bucket) window — no grid join of any kind and no second
    documents scan."""
    plan = _plan(spark, sf_small, "cms_heavy_hitters")
    assert "Join" not in plan, "grid must come from the window, not a join"
    assert plan.count("documents.parquet") <= 1, (
        "corpus must be tokenized exactly once"
    )
    assert "Window" in plan


def test_mad_outliers_stats_broadcast(spark, sf_small):
    """Both per-type stat tables (median, MAD) are group-cardinality-
    bounded and must broadcast back over the scan."""
    plan = _plan(spark, sf_small, "mad_value_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_decayed_activity_single_shuffle(spark, sf_small):
    """Weights are projection-only; the single exchange is the user_id
    aggregation (plus the 1-row scalar broadcast)."""
    plan = _plan(spark, sf_small, "user_decayed_activity")
    agg_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(agg_exchanges) <= 1, agg_exchanges
