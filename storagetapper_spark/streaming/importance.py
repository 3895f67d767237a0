"""Incremental DSIR: maintain the importance-weight model
(plans/datapipe5.sample_importance_weights) as documents stream in.

The model is just two 64-bucket count tables (target and raw) plus
totals — perfectly mergeable state, so the streaming form stores
PER-BATCH DELTAS in a batch-delta log (statefs module docstring,
"Batch-delta logs") and the current model is one 64-row aggregate
over all deltas.

Scoring a batch under the up-to-date model (deltas INCLUDING the
batch) makes the streaming weights equal the batch query's weights on
the union of everything ingested — the equivalence the test asserts.

At 100 TB: per batch one explode+count of the batch only (map-side
combined to ≤64 rows), one small read of the delta table (64 ×
n_batches rows), one broadcast scoring join.  History is never
re-scanned; the model read cost grows with batch COUNT, not corpus
size, and a compaction pass can fold old deltas at any time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark import statefs
from storagetapper_spark.plans.datapipe5 import _DSIR_B


def _bucketed(docs: DataFrame) -> DataFrame:
    bucket = (F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
              .cast("long") % _DSIR_B).alias("bucket")
    return (docs.select("doc_id", "lang",
                        F.explode(F.split(F.col("text"), " ")).alias("tok"))
            .select("doc_id", "lang", bucket))


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str) -> None:
    """Fold one batch's bucket-count deltas into the model store
    (idempotent per batch id)."""
    ex = _bucketed(batch)
    delta = ex.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("d_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("d_tgt"))
    statefs.write_delta(delta, state_dir, batch_id)


def current_model(spark: SparkSession, state_dir: str) -> DataFrame:
    """(bucket, log_ratio) under the deltas folded so far — identical
    math to the batch query (Laplace smoothing, 6dp decimal ratio)."""
    counts = (spark.read.parquet(state_dir)
              .groupBy("bucket")
              .agg(F.sum("d_raw").alias("n_raw"),
                   F.sum("d_tgt").alias("n_tgt")))
    tot = counts.agg(F.sum("n_raw").alias("t_raw"),
                     F.sum("n_tgt").alias("t_tgt"))
    return (counts.crossJoin(F.broadcast(tot))
            .select("bucket",
                    F.round(F.log(
                        ((F.col("n_tgt") + 1.0) / (F.col("t_tgt") + _DSIR_B))
                        / ((F.col("n_raw") + 1.0)
                           / (F.col("t_raw") + _DSIR_B))), 6)
                     .cast("decimal(18,6)").alias("log_ratio")))


def score_docs(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Per-doc importance under a given model — same micro-log-unit
    output contract as the batch query."""
    ex = _bucketed(docs)
    return (ex.join(F.broadcast(model), "bucket")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_toks"),
                 (F.sum("log_ratio") * 1000000).cast("long")
                  .alias("weight_micro")))
