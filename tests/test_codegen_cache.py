"""A long-lived session compiles each generated class once: re-running a
query after many others reuses its classes (session.CODEGEN_CACHE_ENTRIES
sizes Spark's codegen cache above the default of 100)."""

from storagetapper_spark.plans.registry import QUERIES
from storagetapper_spark.session import codegen_counters

FIRST = "q1_pricing_summary"
# Together these need more than 100 generated classes at sf0.001 (a
# fresh JVM compiles 190 for them), so under Spark's default cache size
# FIRST's classes are evicted before FIRST runs again.
BETWEEN = ["rfm_segments", "peak_concurrency", "layout_zone_map_pruning"]


def _run(spark, sf_dir, name):
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()


def test_rerun_after_many_classes_compiles_nothing(spark, sf_dir):
    _run(spark, sf_dir, FIRST)
    for name in BETWEEN:
        _run(spark, sf_dir, name)
    before, _ = codegen_counters(spark)
    _run(spark, sf_dir, FIRST)
    assert codegen_counters(spark)[0] == before
