"""Streaming stratified reservoir: maintain the exact-k-per-stratum
uniform sample (plans/datapipe9.sample_reservoir_stratified) as
documents stream in.

The bottom-k-by-hash sketch is MERGEABLE — bottom-k(A ∪ B) =
bottom-k(bottom-k(A) ∪ bottom-k(B)) — so the streaming form stores
each batch's own bottom-k as a PER-BATCH DELTA in a batch-delta log
(statefs module docstring, "Batch-delta logs"), and the current
sample is one more bottom-k over the union of deltas.

At 100 TB: each batch ranks only its own rows (map-side
WindowGroupLimit ships ≤ k per stratum per task); the state read is
k × n_strata × n_batches rows — sample-sized, never corpus-sized —
and a compaction pass can fold old deltas at any time (folding is
just the same bottom-k, by mergeability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from storagetapper_spark import statefs
from storagetapper_spark.operators.sampling import stratified_reservoir


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str, strata_cols: list[str], k: int,
                 id_col: str = "doc_id", salt: str = "") -> None:
    """Write this batch's per-stratum bottom-k delta (idempotent per
    batch id)."""
    delta = stratified_reservoir(batch, strata_cols, k,
                                 id_col=id_col, salt=salt).drop("rk")
    statefs.write_delta(delta, state_dir, batch_id)


def current_sample(spark: SparkSession, state_dir: str,
                   strata_cols: list[str], k: int,
                   id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """The exact bottom-k per stratum over everything ingested — equal
    to the one-shot batch sample of the union (mergeability), which is
    what the equivalence test asserts."""
    deltas = spark.read.parquet(state_dir).drop("_batch", "sort_key")
    return stratified_reservoir(deltas, strata_cols, k,
                                id_col=id_col, salt=salt)
