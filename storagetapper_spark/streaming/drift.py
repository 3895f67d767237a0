"""Streaming feature-drift monitor.

The streaming form of plans/drift2.drift_ks_by_feature: the sufficient
state for a two-sample KS on integer value grids is one COUNT per
(feature, value, side) — mergeable across micro-batches by plain
addition, so the monitor folds each batch's grid counts into a
grid-sized state table (``statefs.commit_state``) and
recomputes the exact KS from state alone.  Incremental == batch
bit-exactly (tested): counts are exact integers, and the KS evaluation
is the same DECIMAL cross-product expression the batch query uses.

Reference side A (the training window) is FROZEN up front like the
CUSUM baseline — production drift monitors compare live traffic
against a pinned reference, so drift can't contaminate its own
baseline.  State IO is value-grid-sized (type-bounded), never
row-scaled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.statefs import (commit_state, committed_batch, exists,
                                        join_uri)

_DEC = "decimal(19,0)"


def grid_counts(df: DataFrame, feature_cols: dict[str, "F.Column"]) -> DataFrame:
    """(feat, v, c) exact counts for each named integer feature."""
    stacks = []
    for name, col in feature_cols.items():
        stacks.append(df.select(F.lit(name).alias("feat"),
                                col.cast("long").alias("v")))
    long = stacks[0]
    for s in stacks[1:]:
        long = long.unionByName(s)
    return long.groupBy("feat", "v").agg(F.count(F.lit(1)).alias("c"))


def fold_grid_batch(state: DataFrame | None,
                    batch_grid: DataFrame) -> DataFrame:
    """Add one batch's (feat, v, c) counts into the live-side state."""
    if state is None:
        return batch_grid
    return (state.unionByName(batch_grid)
            .groupBy("feat", "v").agg(F.sum("c").alias("c")))


def ks_from_state(reference: DataFrame, live: DataFrame) -> DataFrame:
    """Exact per-feature KS between the frozen reference grid and the
    folded live grid — the batch query's DECIMAL lattice evaluation,
    reading ONLY grid-sized state."""
    ref = reference.select("feat", "v", F.col("c").alias("c_a"))
    liv = live.select("feat", "v", F.col("c").alias("c_b"))
    per_v = (ref.join(liv, ["feat", "v"], "full_outer")
             .select("feat", "v",
                     F.coalesce("c_a", F.lit(0)).alias("c_a"),
                     F.coalesce("c_b", F.lit(0)).alias("c_b")))
    tot = per_v.groupBy("feat").agg(F.sum("c_a").alias("n_a"),
                                    F.sum("c_b").alias("n_b"))
    w = (Window.partitionBy("feat").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = (per_v.select(
        "feat", "v",
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"))
        .join(F.broadcast(tot), "feat")
        .select("feat", "v", "n_a", "n_b",
                F.abs(F.col("cum_a").cast(_DEC) * F.col("n_b").cast(_DEC)
                      - F.col("cum_b").cast(_DEC)
                      * F.col("n_a").cast(_DEC)).alias("diff")))
    maxd = cum.groupBy("feat").agg(F.max("diff").alias("maxd"))
    ks = F.floor(F.col("maxd").cast("double") * 1000000.0
                 / (F.col("n_a").cast("double")
                    * F.col("n_b").cast("double"))).cast("long")
    return (cum.join(F.broadcast(maxd), "feat")
            .filter(F.col("diff") == F.col("maxd"))
            .groupBy("feat", "n_a", "n_b", "maxd")
            .agg(F.min("v").alias("at_value"))
            .select("feat", "n_a", "n_b", ks.alias("ks_d_micro"),
                    "at_value"))


def drift_sink(event_stream: DataFrame, reference: DataFrame,
               feature_cols, state_dir: str, checkpoint_dir: str,
               trigger_available_now: bool = True):
    """foreachBatch drift monitor: fold each batch's value-grid counts
    into live-side state, committed once per batch by
    ``statefs.commit_state`` (protocol in the statefs module docstring;
    a replay is skipped)."""
    spark = event_stream.sparkSession
    ref = pin(reference)  # read by every batch of the stream
    cur = join_uri(state_dir, "drift", "current")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or committed_batch(cur) >= batch_id:
            return
        grid = grid_counts(batch_df, feature_cols(batch_df))
        state = spark.read.parquet(cur) if exists(cur) else None
        commit_state(fold_grid_batch(state, grid), cur, batch_id)

    writer = (event_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_live_grid(spark, state_dir: str) -> DataFrame:
    return spark.read.parquet(join_uri(state_dir, "drift", "current"))
