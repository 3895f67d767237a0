"""Physical-plan shape guards for scale-critical queries: these
properties are WHY the operators survive 100 TB (see SCALE.md and
PLANS_AUDIT.md); a regression here is a scale bug even when results
stay correct."""

import pytest

from storagetapper_spark.plans.registry import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


NO_CARTESIAN = [
    # every registered dedup/similarity pair generator that must stay
    # bucket/block-joined (ann_brute_force is separately asserted: its
    # broadcast nested-loop cross join is the intended scoring plan)
    "dedup_minhash_lsh", "dedup_minhash_lsh_star", "dedup_minhash_lsh_incr",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_embedding_cosine",
    "ann_ivf", "ann_srp",
]


@pytest.mark.parametrize("name", NO_CARTESIAN)
def test_pair_generators_never_go_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_brute_force_ann_broadcasts_the_query_side(spark, sf_dir):
    """Brute force = score every (query, corpus) combination; the right
    plan replicates the TINY query set (BuildRight broadcast) while the
    corpus streams map-side.  A non-broadcast cartesian here would ship
    the corpus instead."""
    plan = _plan(spark, sf_dir, "ann_brute_force")
    assert "CartesianProduct" not in plan
    if "BroadcastNestedLoopJoin" in plan:
        assert "BroadcastNestedLoopJoin BuildRight" in plan


def test_latest_state_is_one_exchange_with_group_limit(spark, sf_dir):
    """The signature merge: map-side WindowGroupLimit before ONE shuffle
    (≤1 row per key per partition crosses the network)."""
    plan = _plan(spark, sf_dir, "cdc_latest_state")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan


def test_chunking_is_a_pure_generator(spark, sf_dir):
    """Chunk fan-out must stay narrow: no shuffle, no Python stage."""
    for name in ("text_chunk_fixed", "text_chunk_tokens"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange hashpartitioning" not in plan, name
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, (name, marker)
        assert "Generate" in plan, name


def test_contamination_shingles_never_shuffle(spark, sf_dir):
    """The contamination scan's corpus side must stay narrow until the
    per-doc shared-count aggregation: distinctness comes from
    array_distinct WITHIN the row, never a global (doc, shingle)
    DISTINCT (that full-shingle shuffle was the repo's worst 10× scale
    ratio, VERDICT r4 #2).  Exactly two corpus-side hash Exchanges may
    remain: the n_shared partial→final agg and the doc-level totals
    join — both move one row per document, not one per shingle."""
    import re
    plan = _plan(spark, sf_dir, "contamination_check")
    keys = [frozenset(c.strip().split("#")[0]
                      for c in m.group(1).split(",") if "#" in c)
            for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)",
                                 plan)]
    # the old anti-pattern was a (doc_id, sh)-keyed DISTINCT Exchange on
    # the corpus side — must never come back
    assert frozenset({"doc_id", "sh"}) not in keys, keys
    # exactly one doc-keyed Exchange (the n_shared agg) and at most one
    # sh-keyed one (the BENCHMARK-side distinct, tiny, pre-broadcast)
    assert keys.count(frozenset({"doc_id"})) == 1, keys
    assert keys.count(frozenset({"sh"})) <= 1, keys


def test_text_surface_has_no_python_stages(spark, sf_dir):
    """Dedup signatures + text analysis are codegen'd Column expressions;
    row-Python here was the r1 perf bug (250s vs <1s)."""
    for name in ("dedup_minhash_signature", "text_quality", "text_lang_id",
                 "text_fingerprint", "dedup_simhash"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    """Filtered snapshot scan must push predicates into the reader."""
    plan = _plan(spark, sf_dir, "cdc_snapshot_filtered")
    # a non-empty pushed list (Spark truncates long plan strings, so
    # don't require the closing bracket)
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_tfidf_topk_avoids_global_window(spark, sf_dir):
    """Final ranking must be TakeOrderedAndProject (per-partition top-k
    + merge), not a single-partition global Window sort."""
    plan = _plan(spark, sf_dir, "text_tfidf_search")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_small_dims_broadcast_in_tpch_joins(spark, sf_dir):
    for name in ("q3_shipping_priority", "q9_product_profit"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


BATCH10_NO_CARTESIAN = [
    # blocked/equi-keyed pair generators from the batch-10 families
    "fuzzy_match_parts", "entity_resolution_parts",
    "overlapping_orders", "graph_triangles", "audience_overlap",
    "multimodal_phash_dct",
]


@pytest.mark.parametrize("name", BATCH10_NO_CARTESIAN)
def test_batch10_pair_generators_never_go_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize("name", ["market_basket_rules",
                                  "hybrid_search_rrf"])
def test_batch10_tiny_side_crossjoins_are_broadcast(spark, sf_dir, name):
    """These queries intentionally cross-join a SINGLE-ROW aggregate
    (order count / normalizer) or a few-row query set — acceptable
    only as a broadcast nested-loop, never a real cartesian."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    if "BroadcastNestedLoopJoin" in plan:
        assert ("BroadcastNestedLoopJoin BuildRight" in plan
                or "BroadcastNestedLoopJoin BuildLeft" in plan), name


def test_fuzzy_join_pushes_scan_filters_and_broadcasts(spark, sf_dir):
    """The blocked fuzzy join must hash-join on the block key (never
    sort-merge the whole part table for an 8-way block) and keep its
    levenshtein OUT of the join condition's shuffle side."""
    plan = _plan(spark, sf_dir, "fuzzy_match_parts")
    assert "BroadcastHashJoin" in plan
    assert "levenshtein" in plan  # computed post-join, JVM-side


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    """The assignment pass replicates the K-row centroid table; the
    corpus must stream map-side without a shuffle by content."""
    plan = _plan(spark, sf_dir, "embedding_kmeans_assign")
    assert ("BroadcastNestedLoopJoin BuildRight" in plan
            or "BroadcastHashJoin" in plan
            or "BroadcastExchange" in plan)
    assert "CartesianProduct" not in plan


def test_lm_score_single_generate_feeds_both_branches(spark, sf_dir):
    """text_lm_score pins the doc×bigram matrix so the explode runs
    once; the executed plan must read the pin (an ExistingRDD scan)
    rather than re-deriving two explode branches from the raw scan."""
    df = QUERIES["text_lm_score"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "MapInPandas" not in plan


# --- two-pass rank / sweep: no unpartitioned window over the data --------

def _walk_physical(node):
    """Yield every node of a physical plan, descending through AQE and
    into cached (InMemoryRelation) plans — a persist() registered by an
    earlier query in the session substitutes InMemoryTableScanExec for
    a matching subtree by logical-plan equality, which would otherwise
    hide the Aggregate/Limit the window guard needs to see (observed:
    text_zipf_fit's vocab aggregate vanishing behind another text
    query's cache entry, making the guard order-dependent)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_physical(node.initialPlan())
        return
    yield node
    if name == "InMemoryTableScanExec":
        yield from _walk_physical(node.relation().cachedPlan())
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_physical(ch.apply(i))


@pytest.mark.parametrize("name", ["peak_concurrency", "window_distribution",
                                  "rfm_segments"])
def test_two_pass_windows_never_sort_the_data_in_one_task(spark, sf_dir,
                                                          name):
    """The r3 verdict's scale-killers: these queries previously ran a
    global (or cardinality-3-partitioned) window over the full input —
    a single-task sort at 100 TB.  The two-pass rewrite
    (operators/ranks.py) allows an unpartitioned WindowExec ONLY above
    an Aggregate (the per-bucket offset table: #buckets rows, never the
    data); every full-data window must carry a partition spec."""
    root = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan()
    saw_partitioned = False
    for node in _walk_physical(root):
        cls = node.getClass().getSimpleName()
        if cls != "WindowExec":
            continue
        if not node.partitionSpec().isEmpty():
            saw_partitioned = True
            continue
        # unpartitioned: must consume aggregated (bucket-count) rows
        has_agg_below = any(
            "Aggregate" in d.getClass().getSimpleName()
            for d in _walk_physical(node.children().apply(0)))
        assert has_agg_below, (
            f"{name}: unpartitioned WindowExec over raw data:\n{node}")
    assert saw_partitioned, f"{name}: expected a bucket-partitioned window"


# Queries allowed to run an unpartitioned window above an AGGREGATE,
# with the stated bound on the aggregated domain (VERDICT r5 #4: an
# Aggregate alone is not row-bounded — groupBy over a near-unique key
# would still sort the corpus in one task, so the exemption is an
# explicit registration, not a plan-shape inference).  A Limit /
# TakeOrdered below the window stays auto-accepted: the row bound is
# explicit in the plan itself.
_BOUNDED_DOMAIN_ALLOWLIST = {
    # two-pass-rank offset cascades: #buckets rows (fixed, ≤ ~4k)
    "peak_concurrency": "bucket-count offset table (≤ 4096 buckets)",
    "window_distribution": "bucket-count offset table (≤ 4096 buckets)",
    "rfm_segments": "bucket-count offset table (≤ 4096 buckets)",
    "sample_pack_contiguous": "16-row shard-total offset cascade",
    "ml_conformal_split": "bucket-count offset table (alpha grid / 1e5 "
                          "buckets, <= ~40 rows)",
    "layout_zorder_pruning": "bucket-count offset table (two-pass rank "
                             "over the Morton order)",
    "layout_zone_map_pruning": "bucket-count offset tables (two-pass "
                               "rank, natural + sorted layouts)",
    "layout_overlap_depth": "bucket-count offset tables (same two-pass "
                            "rank zones; the sweep windows partition "
                            "by layout)",
    # two-phase prefix decompositions: the unpartitioned window runs
    # over the bucket-aggregate, never the raw axis
    "events_watermark_planner": "bucket-count offset table (<=257 "
                                "range buckets; prefix max over chunk "
                                "maxima)",
    # calendar-bounded grids: distinct days/weeks (≤ ~4k rows/decade)
    "slo_burn_rate": "daily grid (calendar-bounded)",
    "stats_runs_test": "daily grid (calendar-bounded)",
    "ts_hurst_rs": "daily grid (calendar-bounded; block windows are "
                   "(scale, block)-partitioned)",
    "ml_pinball_loss": "train-period daily-revenue value grid "
                       "(calendar-bounded)",
    "ts_changepoint_mean_shift": "daily grid (calendar-bounded)",
    "ts_rolling_slope": "daily grid (calendar-bounded)",
    "ts_forecast_backtest_mase": "daily grid (calendar-bounded, "
                                 "complete calendar via sequence)",
    "corpus_growth_curve": "ingestion-batch grid (calendar-bounded)",
    "survival_km": "distinct session-duration minutes (≤ gap cap 30 min "
                   "x sessions; whole-minute domain is duration-capped)",
    "survival_nelson_aalen": "distinct session-duration minutes (same "
                             "duration-capped grid as survival_km)",
    "survival_logrank": "distinct session-duration minutes (same "
                        "duration-capped grid as survival_km)",
    # quantized-value grids: distinct micro-quantized values, bounded by
    # the quantization (price cents ≤ 1e7 distinct; rank grids collapse
    # equal values first)
    "stats_ks_two_sample": "distinct value grid (price cents ≤ 1e7)",
    "stats_kruskal_wallis": "distinct value grid (integer quantities, "
                            "≤ 50 rows)",
    "stats_dunn_posthoc": "distinct value grid (integer quantities, "
                          "≤ 50 rows — same grid as Kruskal-Wallis)",
    "stats_anderson_darling": "distinct value grid (integer quantities, "
                              "≤ 50 rows — same grid as Kruskal-Wallis)",
    "stats_wilcoxon_signed_rank": "distinct |diff| grid (paired spend "
                                  "deltas in cents — value-grid bounded)",
    "stats_effect_sizes": "distinct value grid (integer quantities, "
                          "≤ 50 rows)",
    "stats_kendall_tau": "distinct value grid (price cents ≤ 1e7)",
    "stats_spearman_rho": "distinct value grid (price cents ≤ 1e7)",
    "stats_mann_whitney": "distinct value grid (price cents ≤ 1e7)",
    "ml_auc_roc": "distinct score grid (micro-quantized ≤ 1e6)",
    "ml_auc_delong_ci": "distinct score grid (micro-quantized ≤ 1e6, "
                        "same grid as ml_auc_roc)",
    "ml_pr_auc": "distinct score grid (micro-quantized ≤ 1e6)",
    "ml_lift_gains": "distinct score grid (micro-quantized ≤ 1e6)",
    "ml_threshold_sweep_f1": "distinct score grid (micro-quantized ≤ 1e6)",
    "ml_threshold_cost_curve": "distinct score grid (micro-quantized "
                               "≤ 1e6, same grid as the F1 sweep)",
    "ml_boosted_stumps": "distinct feature grid (micro-quantized ≤ 1e6, "
                         "both boosting rounds)",
    "profile_equidepth_histogram": "distinct value grid (price cents)",
    "agg_weighted_median": "distinct value grid (price cents ≤ 1e7)",
    "agg_trimmed_mean_exact": "distinct value grid (price cents ≤ 1e7, "
                              "partial boundary terms)",
    # categorical grids: fixed small domains
    "profile_pmi_categories": "brand x container grid (≤ ~2k cells)",
    "stats_fdr_bh": "brand domain (25 rows; BH rank + step-up walk)",
    "stats_fdr_by": "brand domain (25 rows; same walk, BY thresholds)",
    "ml_decision_stump": "distinct value grid (price cents ≤ 1e7)",
    "ml_learning_curve": "distinct value grid (price cents ≤ 1e7; one "
                         "window serves all 4 nested subsets)",
    "stats_holm_bonferroni": "brand domain (25 rows; step-down walk)",
    # vocabulary-sized: distinct token types, Heaps'-law sublinear
    # (~1e7 types at web scale — one fat task, acceptable for a
    # model-sized output; two_pass_rank is the migration path)
    "text_zipf_fit": "token-type table (Heaps'-law sublinear)",
    "vocab_coverage": "token-type table (Heaps'-law sublinear)",
    # dimension-sized: one row per part (SF x 200k).  Dimension growth
    # is 1000x slower than fact growth; if the part dimension outgrows
    # one task, operators/ranks.two_pass_rank is the drop-in rewrite.
    "abc_classification": "part dimension (SF x 200k rows)",
    "pareto_frontier_parts": "size-domain min_by table (~50 rows)",
}


def _unpartitioned_window_hits(name: str, root) -> list:
    """The guard core: unpartitioned Window/WindowGroupLimit nodes that
    are neither Limit-bounded below nor (Aggregate-bounded AND
    registered in _BOUNDED_DOMAIN_ALLOWLIST with a stated bound)."""
    hits = []
    for node in _walk_physical(root):
        if node.getClass().getSimpleName() not in (
                "WindowExec", "WindowGroupLimitExec"):
            continue
        if not node.partitionSpec().isEmpty():
            continue
        kinds = set()
        for d in _walk_physical(node.children().apply(0)):
            n = d.getClass().getSimpleName()
            if "Aggregate" in n:
                kinds.add("agg")
            if "Limit" in n or "TakeOrdered" in n:
                kinds.add("limit")
        if "limit" in kinds:
            continue
        if "agg" in kinds and name in _BOUNDED_DOMAIN_ALLOWLIST:
            continue
        hits.append(node.getClass().getSimpleName())
    return hits


def test_no_registry_query_windows_raw_data_in_one_task(spark, sf_dir):
    """Registry-wide closure of the r3 scale-killer class: NO query may
    run an unpartitioned Window (or WindowGroupLimit) directly over
    un-aggregated input — that is a single-task sort of the corpus at
    100 TB.  Unpartitioned windows are allowed only above a row-bounded
    child: a GlobalLimit/TakeOrdered (explicit row bound in the plan,
    e.g. ml_ndcg_at_k ranks inside its LIMIT-100 output), or an
    Aggregate whose domain is REGISTERED with a stated bound in
    _BOUNDED_DOMAIN_ALLOWLIST — an unregistered aggregate (e.g. a
    groupBy over a near-unique key) fails the guard."""
    offenders = {}
    for name, fn in QUERIES.items():
        root = fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        hits = _unpartitioned_window_hits(name, root)
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_window_guard_rejects_high_cardinality_grid(spark, sf_dir):
    """The guard must FAIL a query that aggregates on a high-cardinality
    key and then windows the result unpartitioned — the shape the
    Aggregate exemption used to accept silently (VERDICT r5 #4): a
    groupBy(l_orderkey) produces fact-table-order rows, and ranking
    them in one task is the exact scale-killer the guard exists for."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    grid = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    bad = grid.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("q"))))
    root = bad._jdf.queryExecution().executedPlan()
    assert _unpartitioned_window_hits("synthetic_grid", root), \
        "guard accepted an unpartitioned window over an unregistered " \
        "high-cardinality aggregate"
