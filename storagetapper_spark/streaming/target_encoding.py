"""Streaming target-encoding maintenance: per-category (n, Σy) label
moments are LINEAR, so the live encoding state is the fold of
per-batch deltas, kept in a batch-delta log (statefs module
docstring, "Batch-delta logs").  Per batch the write is |categories|
rows regardless of batch size.

Serving derives the plans/ml2.ml_target_encoding_loo table from the
folded state: for TRAINING rows (which are in the state) the encoding
is leave-one-out — enc(c, y) = (s_c − y + m·prior) / (n_c − 1 + m);
for UNSEEN rows (inference time) pass loo=False to get the smoothed
group mean (s_c + m·prior) / (n_c + m).  Stream == batch bit-exactly
(tested): the fold is integer addition, and the encoding expression
is the registered query's, so the streaming path inherits its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark import statefs

_M = "100.0"  # smoothing pseudo-count (matches plans/ml2._TE_M)


def batch_moments(rows: DataFrame, cat_col: str, y_col: str) -> DataFrame:
    """Per-category exact integer label moments for one batch."""
    return (rows.groupBy(F.col(cat_col).alias("cat"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col(y_col).cast("long")).alias("s")))


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str, cat_col: str, y_col: str) -> None:
    """Write this batch's per-category moment delta (idempotent per id)."""
    statefs.write_delta(batch_moments(batch, cat_col, y_col), state_dir,
                        batch_id)


def current_moments(spark: SparkSession, state_dir: str) -> DataFrame:
    """The folded (cat, n, s) state over all ingested batches."""
    return (spark.read.parquet(state_dir)
            .groupBy("cat").agg(F.sum("n").alias("n"),
                                F.sum("s").alias("s")))


def encoding_table(moments: DataFrame, loo: bool = True) -> DataFrame:
    """The category(×label) encoding table from folded moments.

    loo=True emits the (cat, y) leave-one-out table (training-time;
    identical to plans/ml2.ml_target_encoding_loo); loo=False emits
    one smoothed-mean row per category (inference-time)."""
    tot = moments.agg(F.sum("n").alias("n_all"), F.sum("s").alias("s_all"))
    prior = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    if not loo:
        enc = ((F.col("s").cast("double") + F.expr(_M) * prior)
               / (F.col("n").cast("double") + F.expr(_M)))
        return (moments.crossJoin(F.broadcast(tot))
                .select("cat", "n", "s",
                        F.floor(enc * 1000000.0).cast("long")
                        .alias("enc_micro")))
    lab = moments.select(
        "cat", "n", "s",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("y"))
    enc = ((F.col("s") - F.col("y")).cast("double") + F.expr(_M) * prior) \
        / ((F.col("n") - 1).cast("double") + F.expr(_M))
    return (lab.crossJoin(F.broadcast(tot))
            .filter(F.col("s") >= F.col("y"))
            .select("cat", "y", "n", "s",
                    F.floor(enc * 1000000.0).cast("long")
                    .alias("enc_micro")))
