"""Shared helpers for the query registry."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.operators.skew import guarded_pair_explode


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (the snapshot-scan stand-in — BASELINE.md
    load protocol)."""
    if name == "events":
        return events_t(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def events_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture stores TIMESTAMP(NANOS).  Depending on the Spark
    version this surfaces as a long (with legacy nanosAsLong) or as a
    TIMESTAMP_NTZ truncated to micros; normalize either to a session-TZ
    (UTC) TimestampType so downstream epoch math matches DuckDB."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type in ("long", "bigint"):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, ps): every order's distinct part keys, sorted — the
    basket table behind every co-purchase graph.  One groupBy(orderkey)
    shuffle; collect_set is the per-order distinct of the oracles'
    ``SELECT DISTINCT l_orderkey, l_partkey``, and the sort gives pair
    builds their strict pa < pb orientation.  Returned pinned
    (operators/pin): the pair guard and the caller's other readers read
    the one materialized table."""
    return pin(t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
               .groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps")))


def copurchase_pairs(baskets: DataFrame) -> DataFrame:
    """(pa, pb, n_ab): every part pair bought together, pa < pb, with the
    number of orders that contain both — the oracles' lineitem self-join
    ``ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey``
    grouped by pair, built from :func:`order_baskets` instead.

    The pairs come from ``skew.guarded_pair_explode`` over the pinned
    ``baskets``; its one action picks the in-place or the hot-basket
    spread explode (same pair multiset either way).  Callers apply
    their own support threshold (``n_ab >= 2`` for the strong graph); a caller
    that selects only (pa, pb) gets a plain distinct — the unused count
    is pruned."""
    return (guarded_pair_explode(baskets, "ps", "pa", "pb")
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("n_ab")))
