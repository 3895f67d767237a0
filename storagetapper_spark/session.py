"""SparkSession factory tuned for this engine.

Defaults are chosen for the local[N] test harness but the knobs are the
same ones that matter on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), a shuffle
partition count sized to the cluster (here: cores), and Arrow enabled so
any Pandas-UDF path is batch-vectorized rather than row-at-a-time.

Generated code is compiled once per JVM.  Spark keeps Janino-compiled
classes in a cache of ``spark.sql.codegen.cache.maxEntries`` entries
(default 100), and one round of the snapshot export plus three operator
queries already needs about 89, so a long-lived session that repeats
its jobs (``jobs.run_due_snapshots``) recompiled them, and the JVM
JIT-compiled each recompiled class again.  ``CODEGEN_CACHE_ENTRIES``
is sized by measurement: one pass of bench.py's curated queries at
sf0.1 plus ``run_snapshot_job`` for json, avro and msgpack compiles
2385 classes with an unbounded cache (local[4]); 4096 rounds that up.
The cache is JVM-wide and sized from the static conf of the session
active when the JVM first generates code, so it takes effect only when
this factory builds the JVM's first session: an external driver that
builds its own SparkSession keeps Spark's default of 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Janino's generated-class cache, shared by every session in this JVM
# (sizing in the module docstring).
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "storagetapper-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions, skew-join handling.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # One shuffle partition per core locally; on a real cluster this is
        # sized to 2-3x total cores and AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (region/nation/supplier/part at any SF that fits)
        # should broadcast; 64 MiB threshold covers TPC-H dims at sf<=10.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # keep managed (bucketed) tables out of the repo working dir
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers whole-stage codegen stages in the order it plans
        # them, which follows which concurrent shuffle stage finishes
        # first; with the id in the class name the same pipeline can
        # miss the cache under another id (seen in market_basket_rules).
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    return builder.getOrCreate()


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """(Janino compiles, JIT compile seconds) of this session's JVM so
    far: the count of Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``
    histogram (one sample per generated class compiled, i.e. per codegen
    cache miss) and HotSpot's ``CompilationMXBean`` total.  Diff two
    readings to attribute compile work to what ran between them."""
    jvm = spark.sparkContext._jvm
    compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME().getCount())
    jit_ms = (jvm.java.lang.management.ManagementFactory
              .getCompilationMXBean().getTotalCompilationTime())
    return int(compiles), jit_ms / 1000.0
