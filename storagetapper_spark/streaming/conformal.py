"""Streaming split-conformal calibration.

The sufficient state for the split-conformal threshold is the COUNT
per quantized nonconformity value — mergeable across micro-batches by
plain addition (the streaming/drift.py grid argument), so the monitor
folds each calibration batch's (alpha, c) grid delta and recovers the
EXACT ceil((n+1)*(1-a))-th order statistic from state alone: the
k-th smallest value equals min{alpha : cum_count(alpha) >= k}, which
is a grid-sized cumulative scan, never a corpus sort.

Incremental == batch bit-exactly: the recovered threshold equals
plans/mleval.ml_conformal_split's two-pass-rank tau on the same rows
(tested).  The per-batch deltas are a batch-delta log (statefs module
docstring, "Batch-delta logs").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark import statefs


def batch_alpha_grid(batch: DataFrame) -> DataFrame:
    """One calibration batch's (alpha, c) grid delta: positives only,
    alpha = -floor(dim0 * 1e6) (the ml_conformal_split convention)."""
    return (batch.filter(F.col("label") == 1)
            .select((-F.floor(F.element_at("embedding", 1)
                              .cast("double") * 1000000))
                    .cast("long").alias("alpha"))
            .groupBy("alpha").agg(F.count(F.lit(1)).alias("c")))


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str) -> None:
    """Write this batch's grid delta (idempotent per id)."""
    statefs.write_delta(batch_alpha_grid(batch), state_dir, batch_id)


def current_grid(spark: SparkSession, state_dir: str) -> DataFrame:
    """The folded (alpha, c) calibration grid over all batches."""
    return (spark.read.parquet(state_dir)
            .groupBy("alpha").agg(F.sum("c").alias("c")))


def current_threshold(spark: SparkSession, state_dir: str,
                      alpha_level_pct: int = 10) -> DataFrame:
    """One row (n_cal, k, tau): the exact split-conformal threshold at
    miscoverage alpha_level_pct/100, recovered from the grid state.
    k = ceil((n+1) * (100-pct)/100) in pure integer arithmetic; tau is
    the smallest grid value whose cumulative count reaches k.  The
    cumulative window runs over the micro-quantized grid (bounded
    domain), not rows.

    Always emits exactly one row: when the calibration set is too
    small to support the level (k > n_cal — fewer than 9 positives at
    the default 10%), tau is NULL with (n_cal, k) still populated, so
    callers can tell 'insufficient calibration data' from 'no state'
    (ADVICE r6 — previously the row vanished entirely)."""
    grid = current_grid(spark, state_dir)
    w = Window.orderBy("alpha").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select("alpha", F.sum("c").over(w).alias("cum"))
    keep = 100 - alpha_level_pct
    tot = grid.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_cal")).select(
        "n_cal",
        F.expr(f"({keep} * (n_cal + 1) + 99) div 100").alias("k"))
    # left-join FROM the totals row: the threshold row survives even
    # when no grid value reaches rank k (tau = NULL)
    return (tot.join(cum, F.col("cum") >= F.col("k"), "left")
            .groupBy("n_cal", "k")
            .agg(F.min("alpha").alias("tau")))


def conformal_sink(state_dir: str):
    """foreachBatch callback for a streaming calibration source."""
    def _sink(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(batch.sparkSession, batch, batch_id, state_dir)
    return _sink
