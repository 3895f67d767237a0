"""Streaming maintenance of mergeable per-day HLL sketches.

The streaming form of the rolling-distinct query
(plans/relational10.rolling_distinct_users): each micro-batch folds its
per-day Datasketches HLL into a persistent state table keyed by day,
committed by ``statefs.commit_state`` (the protocol is in its module
docstring).
Because HLL union is associative, commutative, AND idempotent (re-merging
the same sketch adds nothing — set semantics), the maintained state is
simultaneously (a) equal to the one-shot batch computation over the
concatenated stream and (b) safe under micro-batch replay after a
checkpoint recovery, both proven in tests/test_streaming_sketches.py.

State IO is day-cardinality sized — a 100 TB event stream maintains a
few-KB sketch per day regardless of event volume, and any window length
(7-day, 30-day) is answered later by unioning stored sketches, never by
re-reading events.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from storagetapper_spark.statefs import (commit_state, committed_batch, exists,
                                        join_uri)


def day_sketches(df: DataFrame, key_col: str = "user_id",
                 ts_col: str = "ts") -> DataFrame:
    """(d, sk): one HLL sketch of key_col per calendar day."""
    return (df.groupBy(F.to_date(ts_col).alias("d"))
            .agg(F.hll_sketch_agg(key_col).alias("sk")))


def merge_sketch_batch(state: DataFrame | None,
                       batch_sk: DataFrame) -> DataFrame:
    """Fold a batch's per-day sketches into the state table (pure
    batch-incremental form; the sink below wraps it in foreachBatch)."""
    if state is None:
        return batch_sk
    return (state.unionByName(batch_sk)
            .groupBy("d").agg(F.hll_union_agg("sk").alias("sk")))


def sketch_sink(event_stream: DataFrame, state_dir: str,
                checkpoint_dir: str, key_col: str = "user_id",
                ts_col: str = "ts", trigger_available_now: bool = True):
    """foreachBatch maintenance of the per-day sketch state table."""
    spark = event_stream.sparkSession
    cur = join_uri(state_dir, "sketches", "current")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or committed_batch(cur) >= batch_id:
            return
        state = spark.read.parquet(cur) if exists(cur) else None
        commit_state(merge_sketch_batch(
            state, day_sketches(batch_df, key_col, ts_col)), cur, batch_id)

    writer = (event_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_estimates(spark, state_dir: str,
                   window_days: int = 1) -> DataFrame:
    """Distinct-count estimates from the stored sketches: per day
    (window_days=1) or rolling (union of the trailing window's
    sketches — days × window rows move, never events)."""
    sk = spark.read.parquet(join_uri(state_dir, "sketches", "current"))
    if window_days == 1:
        return (sk.select("d", F.hll_sketch_estimate("sk").alias("est"))
                .orderBy("d"))
    spine = sk.select(F.col("d").alias("day"))
    return (spine.join(
        sk, (F.col("d") >= F.date_sub(F.col("day"), window_days - 1))
        & (F.col("d") <= F.col("day")))
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .orderBy("day"))
