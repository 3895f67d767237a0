"""Streaming multi-touch attribution.

The streaming form of plans/relational10.attribution_linear: per-user
episode state (the count of each channel's touches since the user's
last purchase) is carried across micro-batches in a tiny per-user
state table; each purchase closes the episode, splitting its value
equally across the open touches (or crediting '(direct)' when there
are none), and the per-channel credit totals fold into a running
aggregate — both committed by ``statefs.commit_state``, the house
state protocol.

Because attribution is sequential per user, folding ORDERED batches on
top of the carried state equals the one-shot batch computation exactly
(tested), the same invariant the SCD2/IVM/CUSUM sinks prove.  State IO
is user-cardinality sized; the raw event stream only feeds the
per-user Arrow batches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin, release
from storagetapper_spark.statefs import (commit_state, committed_batch, exists,
                                        join_uri)

_CHANNELS = ["view", "click"]


def fold_attribution_batch(state: DataFrame | None, batch: DataFrame,
                           ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold one batch of raw events (user_id, event_id, event_type, ts,
    value) into the episode state.

    Returns (new_state, credits, folded): new_state has one row per
    user with open touch counts; credits holds this batch's
    per-channel credit increments (channel, credit, n_credits); both
    read ``folded``, a pin (operators/pin) the caller releases once
    both are written.  Pure batch form — the sink wraps it."""
    ev = batch.select("user_id", "event_id", "event_type", "ts", "value")
    seeded_state = state if state is not None else (
        batch.sparkSession.createDataFrame(
            [], "user_id long, n_view long, n_click long"))
    joined = ev.join(F.broadcast(seeded_state), "user_id", "left")

    out_schema = ("user_id long, kind string, channel string, "
                  "credit double, n long, n_view long, n_click long")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        uid = int(pdf.user_id.iloc[0])
        nv = int(pdf.n_view.iloc[0]) if pd.notna(pdf.n_view.iloc[0]) else 0
        nc = int(pdf.n_click.iloc[0]) if pd.notna(pdf.n_click.iloc[0]) else 0
        credits: dict = {}
        n_credits: dict = {}
        for _, row in pdf.iterrows():
            et = row.event_type
            if et == "view":
                nv += 1
            elif et == "click":
                nc += 1
            elif et == "purchase":
                total = nv + nc
                if total == 0:
                    credits["(direct)"] = (credits.get("(direct)", 0.0)
                                           + float(row.value))
                    n_credits["(direct)"] = n_credits.get("(direct)", 0) + 1
                else:
                    share = float(row.value) / total
                    if nv:
                        credits["view"] = credits.get("view", 0.0) + share * nv
                        n_credits["view"] = n_credits.get("view", 0) + nv
                    if nc:
                        credits["click"] = (credits.get("click", 0.0)
                                            + share * nc)
                        n_credits["click"] = n_credits.get("click", 0) + nc
                nv = nc = 0
        rows = [{"user_id": uid, "kind": "state", "channel": None,
                 "credit": None, "n": None, "n_view": nv, "n_click": nc}]
        for ch, v in credits.items():
            rows.append({"user_id": uid, "kind": "credit", "channel": ch,
                         "credit": v, "n": n_credits[ch],
                         "n_view": None, "n_click": None})
        return pd.DataFrame(rows)

    folded = pin(joined.groupBy("user_id").applyInPandas(fold, out_schema))
    new_state = (folded.filter(F.col("kind") == "state")
                 .select("user_id", "n_view", "n_click"))
    if state is not None:  # users absent from the batch keep their row
        new_state = new_state.unionByName(state.join(
            new_state.select("user_id"), "user_id", "left_anti"))
    credits = (folded.filter(F.col("kind") == "credit")
               .groupBy("channel")
               .agg(F.sum("credit").alias("credit"),
                    F.sum("n").alias("n_credits")))
    return new_state, credits, folded


def attribution_sink(event_stream: DataFrame, state_dir: str,
                     checkpoint_dir: str,
                     trigger_available_now: bool = True):
    """foreachBatch attribution: carried episode state + running
    per-channel credit totals, each committed once per batch by
    ``statefs.commit_state`` (protocol in the statefs module
    docstring), credits first."""
    st_cur = join_uri(state_dir, "episodes", "current")
    cr_cur = join_uri(state_dir, "credits", "current")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Replay guard (foreachBatch is at-least-once, ADVICE r3): a
        # table that already records this batch is never re-folded —
        # that would double-count credits or re-advance episodes.  A
        # crash between the two commits leaves credits applied and the
        # episodes pre-batch, so the replay folds and commits episodes
        # only.
        cr_due = committed_batch(cr_cur) < batch_id
        st_due = committed_batch(st_cur) < batch_id
        if batch_df.isEmpty() or not (cr_due or st_due):
            return
        # use the MICRO-BATCH's session for state reads: joining a
        # foreachBatch frame against a DataFrame from the outer session
        # can silently miss the broadcast seed (observed: episodes
        # closed as '(direct)' despite recorded open touches)
        bspark = batch_df.sparkSession
        state = (bspark.read.parquet(st_cur)
                 if exists(st_cur) else None)
        new_state, credits, folded = fold_attribution_batch(state, batch_df)
        # COMMIT ORDER MATTERS: credits first.  Each commit writes its
        # frame before it moves its table, so the credits lineage runs
        # while the episode files it reads are still the pre-batch ones.
        if cr_due:
            if exists(cr_cur):
                credits = (bspark.read.parquet(cr_cur).unionByName(credits)
                           .groupBy("channel")
                           .agg(F.sum("credit").alias("credit"),
                                F.sum("n_credits").alias("n_credits")))
            commit_state(credits, cr_cur, batch_id)
        if st_due:
            commit_state(new_state, st_cur, batch_id)
        release(folded)

    writer = (event_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_credits(spark, state_dir: str) -> DataFrame:
    return spark.read.parquet(join_uri(state_dir, "credits", "current"))
