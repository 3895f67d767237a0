"""Streaming SPRT experiment monitor.

The streaming form of plans/stats.stats_sprt_ab: per experiment arm the
Wald sequential test needs exactly TWO counters (successes s, failures
f) plus the frozen decision once a boundary is crossed — the state the
batch query's docstring promises.  Each micro-batch walks its own
trials IN (ts, event_id) ORDER on top of the stored (s, f) offsets, so
the cumulative LLR path across batches is the identical IEEE sequence
as the one-shot backtest — incremental == batch bit-exactly (tested),
the same invariant the CUSUM / lifecycle / semantic sinks prove.

A decision, once made, is FROZEN: Wald's test stops at the first
boundary crossing; later batches only advance the observation counters
(n_trials keeps counting for reporting, the decision fields do not
move).  State IO is arm-cardinality sized; the per-batch walk is one
keyed window over the batch, never over history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from storagetapper_spark.plans.stats import _HI, _LA, _LB, _LO
from storagetapper_spark.statefs import (commit_state, committed_batch, exists,
                                        join_uri)

_STATE_COLS = ["arm", "s", "f", "decision", "n_at_decision",
               "s_at_decision"]


def fold_sprt_batch(state: DataFrame | None,
                    batch_trials: DataFrame) -> DataFrame:
    """Fold one batch of (arm, ts, event_id, is_s) trials into the SPRT
    state (arm, s, f, decision, n_at_decision, s_at_decision).

    The batch's trials walk in (ts, event_id) order seeded by the
    stored offsets; the first in-batch boundary crossing of a
    still-undecided arm freezes the decision."""
    spark = batch_trials.sparkSession
    if state is None:
        state = spark.createDataFrame(
            [], "arm bigint, s bigint, f bigint, decision string, "
                "n_at_decision bigint, s_at_decision bigint")
    prior = state.select(
        "arm", F.col("s").alias("s0"), F.col("f").alias("f0"),
        F.col("decision").alias("dec0"),
        F.col("n_at_decision").alias("nad0"),
        F.col("s_at_decision").alias("sad0"))
    w = (Window.partitionBy("arm").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    walked = (batch_trials
              .join(F.broadcast(prior), "arm", "left")
              .select("arm", "ts", "event_id",
                      F.coalesce("dec0", F.lit(None)).alias("dec0"),
                      (F.coalesce("s0", F.lit(0))
                       + F.sum("is_s").over(w)).alias("cs"),
                      (F.coalesce("f0", F.lit(0))
                       + F.sum(1 - F.col("is_s")).over(w)).alias("cf")))
    llr = (F.col("cs").cast("double") * F.lit(_LA)
           + F.col("cf").cast("double") * F.lit(_LB))
    crossed = walked.filter(
        F.col("dec0").isNull()
        & ((llr >= F.lit(_HI)) | (llr <= F.lit(_LO))))
    first = (crossed
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("arm").orderBy("ts", "event_id")))
             .filter(F.col("rn") == 1)
             .select("arm",
                     F.when(llr >= F.lit(_HI), F.lit("accept_h1"))
                     .otherwise(F.lit("accept_h0")).alias("dec_new"),
                     (F.col("cs") + F.col("cf")).alias("nad_new"),
                     F.col("cs").alias("sad_new")))
    totals = (batch_trials.groupBy("arm")
              .agg(F.sum("is_s").alias("bs"),
                   F.sum(1 - F.col("is_s")).alias("bf")))
    merged = (totals.join(prior, "arm", "full_outer")
              .join(F.broadcast(first), "arm", "left")
              .select(
        "arm",
        (F.coalesce("s0", F.lit(0)) + F.coalesce("bs", F.lit(0)))
        .alias("s"),
        (F.coalesce("f0", F.lit(0)) + F.coalesce("bf", F.lit(0)))
        .alias("f"),
        F.coalesce("dec0", "dec_new").alias("decision"),
        F.coalesce("nad0", "nad_new").alias("n_at_decision"),
        F.coalesce("sad0", "sad_new").alias("s_at_decision")))
    return merged.select(*_STATE_COLS)


def trials_from_events(events: DataFrame) -> DataFrame:
    """The stats_sprt_ab trial construction: view/purchase events,
    arm = user-id parity, success = purchase."""
    return (events.filter(F.col("event_type").isin("view", "purchase"))
            .select((F.col("user_id") % 2).alias("arm"), "ts", "event_id",
                    F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0).alias("is_s")))


def sprt_sink(event_stream: DataFrame, state_dir: str,
              checkpoint_dir: str, trigger_available_now: bool = True):
    """foreachBatch SPRT monitor over a raw event stream; state is
    committed once per batch by ``statefs.commit_state`` (protocol in
    the statefs module docstring), so a replay is skipped."""
    spark = event_stream.sparkSession
    cur = join_uri(state_dir, "sprt", "current")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or committed_batch(cur) >= batch_id:
            return
        state = spark.read.parquet(cur) if exists(cur) else None
        commit_state(fold_sprt_batch(state, trials_from_events(batch_df)),
                     cur, batch_id)

    writer = (event_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_decisions(spark, state_dir: str) -> DataFrame:
    return spark.read.parquet(join_uri(state_dir, "sprt", "current"))
