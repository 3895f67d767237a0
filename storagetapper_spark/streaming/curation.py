"""Streaming corpus curation: the batch filter cascade
(plans/datapipe5.curation_funnel) as an incremental pipeline —
documents arrive in micro-batches, each batch is quality-gated,
deduplicated against EVERYTHING already accepted (cross-batch
content-hash state), and appended to the curated store exactly once.

Reference parity: this is storagetapper's snapshot→changelog ingest
loop (SURVEY §2.1) applied to corpus curation — new rows stream in,
an idempotence key (content hash, the analog of row_key) decides
winners, replays can't duplicate output.

Mechanics per micro-batch (foreachBatch — the only Spark surface that
allows a join against the pipeline's own output):

1. narrow quality gate (lang/length expressions — scan-parallel),
2. dedup WITHIN the batch (first doc_id per content hash wins),
3. LEFT ANTI join against the accepted-hashes state table —
   cross-batch dedup with state bounded by distinct ACCEPTED docs,
   not raw stream volume,
4. append the survivors, and their hashes, to batch-delta logs
   (statefs module docstring, "Batch-delta logs"), so output is
   exactly-once per batch id.  A replayed batch finds its own hashes
   accepted, so its delta is empty and the first run's partitions
   stay.

State and output live under one root; all filesystem access goes
through pyarrow.fs (statefs) so `s3a://`-style roots work unchanged.

At 100 TB: the per-batch cost is one scan of the batch plus one
hash-keyed anti join against the accepted-hash table (itself a narrow
2-column parquet, partition-prunable by hash prefix if it outgrows a
broadcast).  Nothing rescans history; the curated store only appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark import statefs
from storagetapper_spark.operators.pin import pin, release

MIN_TOKENS = 10
ACCEPT_LANGS = ("en",)


def quality_gate(batch: DataFrame) -> DataFrame:
    """The narrow (no-shuffle) per-document filter stage."""
    return batch.filter(
        F.col("lang").isin(*ACCEPT_LANGS)
        & (F.size(F.split(F.col("text"), " ")) >= MIN_TOKENS))


def curate_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 root: str, benchmark: DataFrame | None = None) -> dict:
    """foreachBatch body: gate → [contamination reject] → in-batch
    dedup → cross-batch anti join → exactly-once append.  Returns the
    per-stage attrition counts (the streaming form of curation_funnel).

    ``benchmark``: optional eval-set frame (doc_id, text); documents
    whose shingle overlap reaches the contamination threshold are
    rejected per batch (operators/contamination.decontaminate — the
    benchmark shingle set broadcasts, the batch scans once)."""
    n_in = batch.count()
    gated = quality_gate(batch)
    if benchmark is not None:
        from storagetapper_spark.operators.contamination import decontaminate

        gated = decontaminate(gated, benchmark)
    gated = gated.withColumn("h", F.md5("text"))
    # in-batch winners: min doc_id per hash (deterministic, one shuffle)
    winners = (gated
               .groupBy("h")
               .agg(F.min_by(F.struct([F.col(c) for c in gated.columns
                                       if c != "h"]), F.col("doc_id"))
                     .alias("_row"))
               .select("h", "_row.*"))
    n_gated = winners.count()

    hashes_path = statefs.join_uri(root, "accepted_hashes")
    fresh = winners
    if statefs.exists(hashes_path):
        seen = spark.read.parquet(hashes_path).select("h")
        fresh = winners.join(seen, "h", "left_anti")
    fresh = pin(fresh)  # BEFORE the state writes it reads
    n_fresh = fresh.count()

    statefs.write_delta(fresh, statefs.join_uri(root, "curated"), batch_id)
    statefs.write_delta(fresh.select("h"), hashes_path, batch_id)
    release(fresh)
    return {"batch_id": batch_id, "n_in": n_in, "n_gated": n_gated,
            "n_accepted": n_fresh}


def run_curation_stream(spark: SparkSession, source: DataFrame,
                        root: str, checkpoint: str):
    """Wire a streaming documents source through curate_batch.  The
    caller owns trigger/termination (tests use availableNow)."""
    stats: list[dict] = []

    def _sink(b: DataFrame, bid: int) -> None:
        stats.append(curate_batch(spark, b, bid, root))

    q = (source.writeStream.foreachBatch(_sink)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    return q, stats
