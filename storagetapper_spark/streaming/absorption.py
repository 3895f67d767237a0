"""Streaming funnel-absorption monitor: conversion probabilities over
a live event feed.

The absorbing-chain recursion (plans/relational14.absorption_from_counts)
is a pure function of the (src, dst) TRANSITION COUNT table, and
counts are LINEAR — so the live state is the fold of per-batch
transition-count deltas, kept in a batch-delta log (statefs module
docstring, "Batch-delta logs").  Per batch the transition write is
|types|^2 <= 25 rows regardless of batch size.

Batch-boundary transitions ARE counted (round-8 ADVICE fix): alongside
the per-batch delta the sink keeps a per-user LAST-EVENT log
(user_id, ts, event_id, event_type, a second batch-delta log), and
each ingest joins the folded last-event state of all EARLIER batches
against this batch's per-user FIRST event to emit the straddling
(src, dst) pairs.  Because the boundary join reads only partitions
``_batch < batch_id`` — which a replay of batch k never rewrites — the
recomputed delta is bit-identical on redelivery: replay idempotence is
preserved by construction.  Correctness contract: batch ids must be
monotone in event time per user (what a foreachBatch over an ordered
log provides); for a user-keyed split (each user wholly inside one
batch) the boundary join is empty and the old behavior is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark import statefs
from storagetapper_spark.operators.pin import pin, release
from storagetapper_spark.plans.relational14 import absorption_from_counts

_TRANSITIONS = "transitions"
_LAST_EVENTS = "last_events"


def batch_transitions(rows: DataFrame) -> DataFrame:
    """One batch's WITHIN-batch (src, dst, n) transition-count delta."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (rows.select(F.col("event_type").alias("src"),
                         F.lead("event_type").over(w).alias("dst"))
             .filter(F.col("dst").isNotNull()))
    return pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))


def _batch_last_events(rows: DataFrame) -> DataFrame:
    """Per-user latest (ts, event_id, event_type) of this batch."""
    return (rows.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("e"))
            .select("user_id", F.col("e.ts").alias("ts"),
                    F.col("e.event_id").alias("event_id"),
                    F.col("e.event_type").alias("event_type")))


def _boundary_transitions(spark: SparkSession, batch: DataFrame,
                          batch_id: int, state_dir: str) -> DataFrame | None:
    """(src, dst, n) pairs straddling the boundary into this batch: the
    folded last event of every user across batches < batch_id, joined
    to the user's FIRST event in this batch.  Reads only partitions a
    replay of this batch can never have written, so redelivery
    recomputes the identical delta."""
    last_dir = statefs.join_uri(state_dir, _LAST_EVENTS)
    if not statefs.exists(last_dir):
        return None
    prev = (spark.read.parquet(last_dir)
            .filter(F.col("_batch") < F.lit(batch_id))
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("e"))
            .select("user_id", F.col("e.event_type").alias("src")))
    firsts = (batch.groupBy("user_id")
              .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("e"))
              .select("user_id", F.col("e.event_type").alias("dst")))
    return (prev.join(firsts, "user_id")
            .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n")))


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str) -> None:
    """Write this batch's transition delta — within-batch lead() pairs
    PLUS cross-boundary pairs against the carried last-event state —
    and this batch's per-user last events (both idempotent per batch
    id)."""
    delta = batch_transitions(batch)
    boundary = _boundary_transitions(spark, batch, batch_id, state_dir)
    if boundary is not None:
        delta = (delta.unionByName(boundary)
                 .groupBy("src", "dst").agg(F.sum("n").alias("n")))
    statefs.write_delta(delta, statefs.join_uri(state_dir, _TRANSITIONS),
                        batch_id)
    statefs.write_delta(_batch_last_events(batch),
                        statefs.join_uri(state_dir, _LAST_EVENTS), batch_id)


def compact_last_events(spark: SparkSession, state_dir: str,
                        upto_batch: int) -> None:
    """Log-compact the last-event state: fold every partition with
    ``_batch <= upto_batch`` into ONE per-user row stored under
    ``_batch=upto_batch``, then drop the older partitions.  The folded
    content any LATER batch's boundary join reads is identical
    (per-user max over the same rows), so ingest behavior is
    unchanged; what compaction gives up is replayability of batches
    <= upto_batch — so only ever compact up to the last COMMITTED
    checkpoint (the same contract as the reference's binlog-position
    GC, cdc_tombstone_gc_plan).  The fold lands before any partition
    is deleted, so a crash anywhere leaves rows the per-user max
    absorbs.  Keeps the state bounded by |users| plus one partition
    per batch since the last compaction, instead of growing with total
    batch count."""
    last_dir = statefs.join_uri(state_dir, _LAST_EVENTS)
    batches = statefs.delta_batches(last_dir)
    if not batches or batches[0] > upto_batch:
        return
    # pinned: severs the lineage from the paths we are about to
    # overwrite and delete (read-overwrite hazard)
    folded = pin(spark.read.parquet(last_dir)
                 .filter(F.col("_batch") <= F.lit(upto_batch))
                 .groupBy("user_id")
                 .agg(F.max(F.struct("ts", "event_id", "event_type"))
                      .alias("e"))
                 .select("user_id", F.col("e.ts").alias("ts"),
                         F.col("e.event_id").alias("event_id"),
                         F.col("e.event_type").alias("event_type")))
    statefs.write_delta(folded, last_dir, upto_batch)
    release(folded)
    for b in batches:
        if b < upto_batch:
            statefs.rmtree(statefs.join_uri(last_dir, f"_batch={b}"))


def current_transitions(spark: SparkSession, state_dir: str) -> DataFrame:
    """The folded (src, dst, n) table over all ingested batches."""
    return (spark.read.parquet(statefs.join_uri(state_dir, _TRANSITIONS))
            .groupBy("src", "dst").agg(F.sum("n").alias("n")))


def current_absorption(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live conversion table — the registered query's 8 quantized
    generations over the folded counts."""
    return absorption_from_counts(current_transitions(spark, state_dir))
