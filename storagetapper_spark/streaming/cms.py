"""Streaming count-min maintenance: fold per-batch CMS cell deltas as
documents stream in; the live sketch is the sum of deltas (count-min is
linear, so batch-wise addition IS the sketch of the union).

The deltas are a batch-delta log (statefs module docstring,
"Batch-delta logs").  Per batch the write is ≤ d·w (= 1024) counter
rows regardless of batch size; the fold reads 1024 × n_batches rows
and a compaction pass can collapse them any time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark import statefs
from storagetapper_spark.plans.sketches import (_CMS_D, _cell_dyn)


def _batch_cells(docs: DataFrame) -> DataFrame:
    toks = docs.select(F.explode(F.split(F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
        " +", " ")), " ")).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    rows = F.explode(F.array(
        *[F.lit(r) for r in range(_CMS_D)])).alias("r")
    return (cnt.select("tok", "n", rows)
            .select("r", _cell_dyn("r", F.col("tok")).alias("c"), "n")
            .groupBy("r", "c").agg(F.sum("n").alias("cell_n")))


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str) -> None:
    """Write this batch's CMS cell-count delta (idempotent per id)."""
    statefs.write_delta(_batch_cells(batch), state_dir, batch_id)


def current_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The folded (r, c, cell_n) sketch over all ingested batches."""
    return (spark.read.parquet(state_dir)
            .groupBy("r", "c").agg(F.sum("cell_n").alias("cell_n")))


def estimate(sketch: DataFrame, tokens: DataFrame,
             tok_col: str = "tok") -> DataFrame:
    """CMS point estimates for the given token list: min over the d
    cells each token hashes to (the sketch side is ≤1024 rows,
    broadcast)."""
    rows = F.explode(F.array(
        *[F.lit(r) for r in range(_CMS_D)])).alias("r")
    probes = (tokens.select(tok_col, rows)
              .select(tok_col, "r",
                      _cell_dyn("r", F.col(tok_col)).alias("c")))
    return (probes.join(F.broadcast(sketch), ["r", "c"])
            .groupBy(tok_col)
            .agg(F.min("cell_n").alias("cms_est")))


def cms_sink(state_dir: str):
    """foreachBatch callback for a streaming documents source."""
    def _sink(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(batch.sparkSession, batch, batch_id, state_dir)
    return _sink
