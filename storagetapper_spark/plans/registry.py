"""The query registry: every implemented operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair.  Consumed by __spark_entry__.py and bench.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from storagetapper_spark.plans import (
    cdc,
    extensions,
    cdc2,
    cdc3,
    datapipe,
    datapipe2,
    datapipe3,
    datapipe4,
    datapipe5,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    relational8,
    relational9,
    relational10,
    relational11,
    relational12,
    timeseries,
    timeseries2,
    timeseries3,
    timeseries4,
    timeseries5,
    timeseries7,
    graph2,
    graph3,
    datapipe6,
    datapipe7,
    datapipe8,
    sketches,
    embeddings2,
    textrank,
    cdc4,
    relational13,
    relational14,
    ml,
    profile2,
    multimodal2,
    relational15,
    relational16,
    dedup2,
    layout,
    stats,
    pca,
    drift2,
    mleval,
    datapipe9,
    datapipe10,
    datapipe11,
    datapipe12,
    datapipe13,
    privacy,
    stats2,
    stats4,
    survival2,
    ml2,
    timeseries6,
    geo,
    stats3,
    recsys2,
    mleval2,
)

_ALL: dict[str, tuple[Callable, str | None]] = {}
for mod in (relational, relational2, relational3, relational4, relational5,
            relational6, relational7, relational8, relational9, relational10, relational11, relational12,
            timeseries,
            timeseries2, timeseries3, timeseries4, timeseries5, timeseries6, timeseries7, graph2, graph3, cdc, cdc4, relational13, relational14, ml, profile2, multimodal2, relational15, relational16, dedup2, layout, stats, pca, drift2, mleval, privacy, stats2, stats3, stats4, survival2, ml2, geo, recsys2, mleval2, cdc2, cdc3, datapipe, datapipe2,
            datapipe3, datapipe4, datapipe5, datapipe6, datapipe7, datapipe8, datapipe9, datapipe10, datapipe11, datapipe12, datapipe13, sketches, embeddings2, textrank, extensions):
    for name, pair in mod.QUERIES.items():
        assert name not in _ALL, f"duplicate query name: {name}"
        _ALL[name] = pair

# The driver's correctness harness checks a 50-query prefix of queries()
# in dict order (CORRECTNESS_r01/r02 each contain exactly the first 50
# entries).  Rounds 1-2 checked the relational surface (44 green rows);
# round 3 rotates the never-checked 47 (the whole cdc_* / dedup / ANN /
# text surface) plus the 3 queries whose oracles were fixed this round
# into the window.  Previously-green queries keep their recorded rows.
_CHECK_FIRST = [
    # Round-12 window: a PURE RE-WITNESS window, zero new registrations.
    # The 50 stalest names by last witness round in CORRECTNESS_r01-r11,
    # oldest first, registry order breaking ties: the 10 remaining
    # round-2 rows, the 32 round-3 rows, then the first 8 round-4 rows.
    "q10_returned_items", "q18_large_volume", "window_range_frame",
    "unpivot_measures", "sample_stratified", "sketch_histogram",
    "text_tfidf_search", "snapshot_diff_changelog", "q6_forecast_revenue",
    "q4_order_priority", "conditional_agg", "window_sliding", "sessionize",
    "agg_percentiles_approx", "approx_distinct", "text_ngram_freq",
    "q2_min_cost_supplier", "q8_market_share", "q9_product_profit",
    "q11_important_parts", "q12_priority_by_status",
    "q13_customer_distribution", "q15_top_supplier", "q16_supplier_counts",
    "q20_dominant_suppliers", "q21_last_shippers", "sketch_hll_union",
    "cdc_incremental_agg", "cdc_column_audit", "cdc_time_travel",
    "dedup_clusters", "dedup_corpus_summary", "sample_weighted",
    "dedup_minhash_lsh", "dedup_minhash_lsh_star", "dedup_minhash_lsh_incr",
    "profile_documents", "contamination_check", "decontaminate",
    "quality_gate", "ann_srp", "dedup_embedding_srp", "q14_promo_effect",
    "q17_small_quantity", "q22_global_sales_opportunity",
    "q19_disjunctive_ranges", "text_pii_flags", "text_repetition",
    "sample_reservoir_per_group", "embedding_kmeans_assign",
]
assert len(_CHECK_FIRST) == 50, len(_CHECK_FIRST)
assert all(n in _ALL for n in _CHECK_FIRST), "unknown name in _CHECK_FIRST"
_ORDERED = _CHECK_FIRST + [n for n in _ALL if n not in _CHECK_FIRST]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _ALL[name][0] for name in _ORDERED
}

ORACLES: dict[str, str] = {
    name: sql for name, (_, sql) in _ALL.items() if sql is not None
}


def run_query(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    return QUERIES[name](spark, sf_dir)
