"""Streaming / batch-incremental maintenance of changelog-derived
warehouse products (the foreachBatch forms of operators/history.py).

``incremental_upsert_sink`` (streaming/pipeline.py) maintains *latest
state*; these maintain the other two products incrementally:

  - ``scd2_apply_batch``: fold one changelog micro-batch into an SCD2
    history table — close the open versions of touched keys, append the
    batch's own versions.  Applying batches one by one is provably
    equivalent to ``scd2_history`` over the concatenated changelog
    (tested), so a stream maintains the history without ever re-reading
    it in full per key.
  - ``apply_delta_batch``: fold one micro-batch of signed deltas into a
    materialized aggregate + a per-key last-state side table (the lag
    seed for the next batch).  SUM/COUNT maintenance without re-scanning
    the state table — classic IVM.

Assumes per-key seqno-ordered batch boundaries (a key's events in batch
N all precede its events in batch N+1) — the same per-PK ordered
delivery the reference inherits from binlog/Kafka partitioning
(changelog/mysql.go seqno monotonicity; pipe/kafka.go key routing).

Scale: each apply touches the batch's keys via one broadcast (first-
seqno per key) or one key-partitioned shuffle; the merge-back dedup
shuffles on (pk, valid_from).  Nothing scans the full history per
batch except the state-table rewrite itself, which a Delta/Iceberg
MERGE replaces when a table format is available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storagetapper_spark.operators.history import delta_stream, scd2_history
from storagetapper_spark.statefs import (commit_state, committed_batch, exists,
                                        join_uri)
from storagetapper_spark.operators.merge import latest_state


def scd2_apply_batch(existing: DataFrame | None, batch: DataFrame,
                     pk_cols: list[str], seqno_col: str = "seqno",
                     op_col: str = "op") -> DataFrame:
    """Fold one changelog batch into an SCD2 history table.

    Touched keys' open versions are closed at the key's first batch
    seqno (a batch that only deletes a key closes without appending);
    the batch's own versions come from ``scd2_history`` on the batch
    alone.  Replay idempotence: open versions are only closed when they
    PREDATE the batch (valid_from < first batch seqno — a replayed
    batch must not close its own open tail), and the final
    (pk, valid_from)-grouped merge keeps the closed boundary when a
    version is seen both open and closed (``min(valid_to)`` ignores
    NULL).
    """
    batch_hist = scd2_history(batch, pk_cols, seqno_col=seqno_col,
                              op_col=op_col)
    if existing is None:
        return batch_hist
    firsts = (batch.groupBy(*pk_cols)
                   .agg(F.min(seqno_col).cast("long").alias("_first_seqno")))
    closed = (existing.join(F.broadcast(firsts), pk_cols, "left")
              .withColumn(
                  "valid_to",
                  F.when(F.col("is_current") & F.col("_first_seqno").isNotNull()
                         & (F.col("valid_from") < F.col("_first_seqno")),
                         F.col("_first_seqno")).otherwise(F.col("valid_to")))
              .drop("_first_seqno"))
    unioned = closed.unionByName(batch_hist.select(*closed.columns))
    others = [c for c in unioned.columns
              if c not in (*pk_cols, "valid_from", "valid_to", "is_current")]
    return (unioned.groupBy(*pk_cols, "valid_from")
                   .agg(F.min("valid_to").alias("valid_to"),
                        *[F.first(c).alias(c) for c in others])
                   .withColumn("is_current", F.col("valid_to").isNull()))


def apply_delta_batch(agg: DataFrame | None, keystate: DataFrame | None,
                      batch: DataFrame, pk_cols: list[str], value_col: str,
                      group_col: str, seqno_col: str = "seqno",
                      op_col: str = "op",
                      decimal_type: str = "decimal(18,2)"
                      ) -> tuple[DataFrame, DataFrame]:
    """Fold one changelog batch into a materialized SUM/COUNT aggregate.

    ``keystate`` (pk → last value + liveness) seeds the per-key lag so
    cross-batch deltas are exact; ``agg`` holds (group_col, sum_value,
    n_live).  Returns the updated (agg, keystate) — both small relative
    to the changelog (one row per key / per group), which is the whole
    point: the aggregate is maintained by folding deltas, never by
    re-scanning the state.

    ``group_col`` must be a column of the batch derived from the PK
    (a key never changes group — the IVM precondition for SUM/COUNT).
    """
    cols = [*pk_cols, group_col, seqno_col, op_col, value_col]
    feed = batch.select(*cols)
    if keystate is not None:
        seed = keystate.select(
            *pk_cols, group_col,
            F.lit(-1).cast("long").alias(seqno_col),
            F.when(F.col("live") == 1, F.lit("insert"))
             .otherwise(F.lit("delete")).alias(op_col),
            F.col("last_value").alias(value_col))
        feed = seed.select(*cols).unionByName(feed)
    deltas = delta_stream(feed, pk_cols, value_col, seqno_col=seqno_col,
                          op_col=op_col, decimal_type=decimal_type)
    batch_delta = (deltas.where(F.col(seqno_col) >= 0)
                   .groupBy(group_col)
                   .agg(F.sum("value_delta").alias("_dv"),
                        F.sum("live_delta").alias("_dn")))
    if agg is None:
        agg_next = batch_delta.select(
            group_col,
            F.col("_dv").cast(decimal_type).alias("sum_value"),
            F.col("_dn").alias("n_live"))
    else:
        zero = F.lit(0).cast(decimal_type)
        agg_next = (agg.join(batch_delta, group_col, "full_outer")
                    .select(group_col,
                            (F.coalesce(F.col("sum_value"), zero)
                             + F.coalesce(F.col("_dv"), zero))
                            .cast(decimal_type).alias("sum_value"),
                            (F.coalesce(F.col("n_live"), F.lit(0))
                             + F.coalesce(F.col("_dn"), F.lit(0)))
                            .cast("long").alias("n_live")))
    latest = latest_state(feed, pk_cols, seqno_col=seqno_col, op_col=op_col,
                          drop_deleted=False)
    keystate_next = latest.select(
        *pk_cols, group_col,
        F.when(F.col(op_col) == "delete", F.lit(0))
         .otherwise(F.coalesce(F.col(value_col), F.lit(0)))
         .cast(decimal_type).alias("last_value"),
        F.when(F.col(op_col) == "delete", F.lit(0)).otherwise(F.lit(1))
         .cast("int").alias("live"))
    return agg_next, keystate_next


def scd2_sink(cdc_stream: DataFrame, history_dir: str, checkpoint_dir: str,
              pk_cols: list[str], seqno_col: str = "seqno",
              op_col: str = "op", trigger_available_now: bool = True):
    """foreachBatch maintenance of an SCD2 history table (the streaming
    form of ``scd2_apply_batch``), committed once per batch by
    ``statefs.commit_state`` (protocol in the statefs module
    docstring); a replay is skipped by the commit marker, and
    ``scd2_apply_batch`` is idempotent per batch besides."""
    spark = cdc_stream.sparkSession
    cur_path = join_uri(history_dir, "current")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or committed_batch(cur_path) >= batch_id:
            return
        cur = (spark.read.parquet(cur_path)
               if exists(cur_path) else None)
        commit_state(scd2_apply_batch(cur, batch_df, pk_cols,
                                      seqno_col=seqno_col, op_col=op_col),
                     cur_path, batch_id)

    writer = (cdc_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_history(spark, history_dir: str) -> DataFrame:
    return spark.read.parquet(join_uri(history_dir, "current"))


def ivm_sink(cdc_stream: DataFrame, state_dir: str, checkpoint_dir: str,
             pk_cols: list[str], value_col: str, group_col: str,
             trigger_available_now: bool = True):
    """foreachBatch maintenance of a materialized SUM/COUNT aggregate
    (the streaming form of ``apply_delta_batch``): per micro-batch, fold
    the batch's signed deltas into the stored aggregate and refresh the
    per-key lag-seed table, each committed by ``statefs.commit_state``
    (protocol in the statefs module docstring), the aggregate first.  A
    replay commits only the table that still lacks the batch, so no
    delta is folded twice.  The aggregate and keystate are group-/key-
    cardinality sized, so state IO stays small no matter how large the
    fact stream is."""
    spark = cdc_stream.sparkSession
    agg_cur = join_uri(state_dir, "agg", "current")
    key_cur = join_uri(state_dir, "keystate", "current")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        todo = [committed_batch(cur) < batch_id for cur in (agg_cur, key_cur)]
        if batch_df.isEmpty() or not any(todo):
            return
        agg = spark.read.parquet(agg_cur) if exists(agg_cur) else None
        ks = spark.read.parquet(key_cur) if exists(key_cur) else None
        tables = apply_delta_batch(agg, ks, batch_df, pk_cols, value_col,
                                   group_col)
        for df, cur, due in zip(tables, (agg_cur, key_cur), todo):
            if due:
                commit_state(df, cur, batch_id)

    writer = (cdc_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_aggregate(spark, state_dir: str) -> DataFrame:
    return spark.read.parquet(join_uri(state_dir, "agg", "current"))
