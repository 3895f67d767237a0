"""Streaming rater-agreement monitor: Cohen's kappa over a live feed.

The 3x3 confusion-cell counts behind kappa are LINEAR, so the live
state is the fold of per-batch cell deltas, kept in a batch-delta log
(statefs module docstring, "Batch-delta logs").  Per batch the write
is <= 9 rows regardless of batch size.

Serving routes the folded cells through the REGISTERED query's own
expression (plans/mleval2.kappa_from_cells), so the streaming path
inherits ml_cohen_kappa's DuckDB oracle bit-exactly (tested: 3-way
split fold == one-shot batch query).  The operational use is
silver-label drift: when a cheap labeling rule and the reference rule
start disagreeing, kappa decays batch over batch — the alarm fires on
the served row, no re-scan of history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark import statefs
from storagetapper_spark.plans.mleval2 import kappa_from_cells, kappa_raters


def batch_cells(rows: DataFrame) -> DataFrame:
    """One batch's 3x3 confusion-cell delta (exact integer counts)."""
    return (kappa_raters(rows)
            .groupBy("ra", "rb").agg(F.count(F.lit(1)).alias("c")))


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str) -> None:
    """Write this batch's cell delta (idempotent per batch id; an
    empty replay keeps the old delta, see statefs "Batch-delta logs")."""
    statefs.write_delta(batch_cells(batch), state_dir, batch_id)


def current_cells(spark: SparkSession, state_dir: str) -> DataFrame:
    """The folded (ra, rb, c) confusion table over all ingested batches."""
    return (spark.read.parquet(state_dir)
            .groupBy("ra", "rb").agg(F.sum("c").alias("c")))


def current_kappa(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live kappa summary row — the registered query's expression
    over the folded state."""
    return kappa_from_cells(current_cells(spark, state_dir))
