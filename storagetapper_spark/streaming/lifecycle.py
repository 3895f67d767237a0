"""Streaming growth accounting: maintain the daily
new/retained/resurrected/churned decomposition
(plans/relational11.events_user_lifecycle) as events stream in.

State architecture: each batch writes its DISTINCT (user_id, day)
presence pairs to a batch-delta log (statefs module docstring,
"Batch-delta logs") — exactly-once presence without a mutable state
store.  The decomposition is then one window pass over the folded
presence table.

Why presence-deltas instead of per-user last-seen state: lifecycle
classification of day d changes RETROACTIVELY when a user's earlier
day arrives late (their 'new' day moves), so any eagerly-emitted
per-day counts would need retraction.  The presence table is bounded
by |users| × |calendar days| — state that grows with the entity count,
never with event volume — which is the right 100 TB trade: the fold is
a distinct over ≤ users×days rows, and the window pass partitions by
user.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark import statefs


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str) -> None:
    """Write this batch's distinct (user_id, day) presence delta
    (idempotent per batch id)."""
    pres = (batch.select("user_id",
                         F.col("ts").cast("date").alias("day"))
            .distinct())
    statefs.write_delta(pres, state_dir, batch_id)


def current_lifecycle(spark: SparkSession, state_dir: str) -> DataFrame:
    """The daily decomposition over everything ingested so far —
    identical math to the batch query (window lag/lead per user,
    churn emitted at day+1 by the lead side)."""
    from pyspark.sql import Window

    ud = (spark.read.parquet(state_dir)
          .select("user_id", "day").distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    maxd = ud.agg(F.max("day").alias("max_day"))
    tagged = (ud.select("user_id", "day",
                        F.lag("day").over(w).alias("prev"),
                        F.lead("day").over(w).alias("nxt"))
              .crossJoin(F.broadcast(maxd)))
    status = (F.when(F.col("prev").isNull(), "new")
              .when(F.datediff("day", "prev") == 1, "retained")
              .otherwise("resurrected"))
    base = (tagged.groupBy("day")
            .agg(F.sum(F.when(status == "new", 1).otherwise(0))
                 .alias("n_new"),
                 F.sum(F.when(status == "retained", 1).otherwise(0))
                 .alias("n_retained"),
                 F.sum(F.when(status == "resurrected", 1).otherwise(0))
                 .alias("n_resurrected")))
    churn = (tagged.filter(
        (F.col("day") < F.col("max_day"))
        & (F.col("nxt").isNull() | (F.datediff("nxt", "day") > 1)))
        .select(F.date_add("day", 1).alias("day"))
        .groupBy("day").agg(F.count(F.lit(1)).alias("n_churned")))
    return (base.join(churn, "day", "full")
            .select("day",
                    F.coalesce("n_new", F.lit(0)).alias("n_new"),
                    F.coalesce("n_retained", F.lit(0))
                    .alias("n_retained"),
                    F.coalesce("n_resurrected", F.lit(0))
                    .alias("n_resurrected"),
                    F.coalesce("n_churned", F.lit(0))
                    .alias("n_churned"))
            .orderBy("day"))


def lifecycle_sink(state_dir: str):
    """foreachBatch callback for a streaming events source."""
    def _sink(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(batch.sparkSession, batch, batch_id, state_dir)
    return _sink
