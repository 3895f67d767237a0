"""Streaming CUSUM drift monitoring.

The streaming form of plans/relational10.anomaly_cusum: baseline
(μ, σ) per series is FROZEN up front (trained on a reference period —
how production monitors run, so a drift can't poison its own
baseline), and the two-sided recursion
    S⁺ₜ = max(0, S⁺ₜ₋₁ + xₜ - μ - k),   S⁻ mirrored
is carried across micro-batches in a tiny per-series state table
(``statefs.commit_state``, the house state protocol).  Because the recursion
is sequential per series, each batch folds its days IN ORDER on top of
the stored (sp, sn) — incremental folding equals the one-shot batch
computation exactly (tested), the same invariant the SCD2/IVM sinks
prove.

State IO is series-cardinality sized; the daily aggregation of the raw
stream stays JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.statefs import (commit_state, committed_batch, exists,
                                        join_uri, write_delta)


def train_baseline(df: DataFrame, series_col: str = "event_type",
                   ts_col: str = "ts") -> DataFrame:
    """(series, mu, sigma) from exact integer daily-count sums over the
    reference period — the frozen monitor baseline."""
    daily = (df.groupBy(series_col, F.to_date(ts_col).alias("d"))
             .agg(F.count(F.lit(1)).alias("x")))
    # variance clamped at 0: for a constant series the exact-sum form
    # sxx/cnt - mu*mu can round to a tiny NEGATIVE, and sqrt of that is
    # NaN — which would then propagate NaN into every sp/sn the series
    # ever folds (ADVICE r3)
    var = (F.col("sxx") / F.col("cnt")
           - (F.col("sx") / F.col("cnt")) * (F.col("sx") / F.col("cnt")))
    return (daily.groupBy(series_col)
            .agg(F.sum("x").alias("sx"),
                 F.sum(F.col("x") * F.col("x")).alias("sxx"),
                 F.count(F.lit(1)).alias("cnt"))
            .select(series_col,
                    (F.col("sx") / F.col("cnt")).alias("mu"),
                    F.sqrt(F.greatest(F.lit(0.0), var)).alias("sigma")))


def fold_cusum_batch(state: DataFrame | None, batch_daily: DataFrame,
                     baseline: DataFrame,
                     series_col: str = "event_type") -> DataFrame:
    """Fold one batch of (series, d, x) rows into the CUSUM state.

    Returns the new state: (series, last_d, sp, sn, n_alarms_up,
    n_alarms_down).  Pure batch-incremental form; the sink wraps it.
    Days inside the batch fold in date order via applyInPandas — the
    per-series loop is the same IEEE op sequence as the one-shot
    query, so incremental == one-shot bit-exactly."""
    seeded = (batch_daily.join(F.broadcast(baseline), series_col)
              .join(F.broadcast(state.select(
                  series_col, F.col("sp").alias("_sp0"),
                  F.col("sn").alias("_sn0"),
                  F.col("n_alarms_up").alias("_au0"),
                  F.col("n_alarms_down").alias("_ad0"))),
                  series_col, "left") if state is not None else
              batch_daily.join(F.broadcast(baseline), series_col)
              .withColumn("_sp0", F.lit(None).cast("double"))
              .withColumn("_sn0", F.lit(None).cast("double"))
              .withColumn("_au0", F.lit(None).cast("long"))
              .withColumn("_ad0", F.lit(None).cast("long")))

    schema = (f"{series_col} string, last_d date, sp double, sn double, "
              "n_alarms_up bigint, n_alarms_down bigint")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        mu = float(pdf.mu.iloc[0])
        sigma = float(pdf.sigma.iloc[0])
        k, h = 0.5 * sigma, 4.0 * sigma
        sp = float(pdf._sp0.iloc[0]) if pd.notna(pdf._sp0.iloc[0]) else 0.0
        sn = float(pdf._sn0.iloc[0]) if pd.notna(pdf._sn0.iloc[0]) else 0.0
        au = int(pdf._au0.iloc[0]) if pd.notna(pdf._au0.iloc[0]) else 0
        ad = int(pdf._ad0.iloc[0]) if pd.notna(pdf._ad0.iloc[0]) else 0
        for x in pdf.x:
            sp = max(0.0, sp + x - mu - k)
            sn = max(0.0, sn + mu - k - x)
            au += int(sp > h)
            ad += int(sn > h)
        return pd.DataFrame([{
            series_col: pdf[series_col].iloc[0],
            "last_d": pdf.d.iloc[-1], "sp": sp, "sn": sn,
            "n_alarms_up": au, "n_alarms_down": ad}])

    folded = seeded.groupBy(series_col).applyInPandas(fold, schema)
    if state is None:
        return folded
    # series with no rows this batch keep their state unchanged
    untouched = state.join(folded.select(series_col), series_col,
                           "left_anti")
    return folded.unionByName(untouched)


def cusum_sink(event_stream: DataFrame, baseline: DataFrame,
               state_dir: str, checkpoint_dir: str,
               series_col: str = "event_type", ts_col: str = "ts",
               trigger_available_now: bool = True):
    """foreachBatch CUSUM monitor over a raw event stream; the state
    commit protocol is in the statefs module docstring."""
    spark = event_stream.sparkSession
    base = pin(baseline)  # read by every batch of the stream
    cur = join_uri(state_dir, "cusum", "current")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Replay guard (foreachBatch is at-least-once): once the state
        # records this batch its days are ALREADY folded in — re-folding
        # them would corrupt sp/sn and alarm counts (ADVICE r3).
        if batch_df.isEmpty() or committed_batch(cur) >= batch_id:
            return
        daily = (batch_df.groupBy(series_col,
                                  F.to_date(ts_col).alias("d"))
                 .agg(F.count(F.lit(1)).alias("x")))
        # Series absent from the frozen baseline (a new event_type
        # appearing mid-stream) can't be monitored — surface them in a
        # side table instead of silently dropping them (ADVICE r3).
        # A batch-delta log, NOT an append: a replay that crashed after
        # this write but before the state commit replaces its own
        # delta instead of duplicating rows (ADVICE r4 — the replay
        # guard above only protects the folded state, not this table).
        unmatched = (daily.select(series_col).distinct()
                     .join(F.broadcast(base.select(series_col)),
                           series_col, "left_anti"))
        write_delta(unmatched, join_uri(state_dir, "cusum", "unmonitored"),
                    batch_id)
        state = spark.read.parquet(cur) if exists(cur) else None
        commit_state(fold_cusum_batch(state, daily, base, series_col), cur,
                     batch_id)

    writer = (event_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_monitor(spark, state_dir: str) -> DataFrame:
    return spark.read.parquet(join_uri(state_dir, "cusum", "current"))
