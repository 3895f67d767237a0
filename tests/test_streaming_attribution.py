"""Streaming attribution: ordered micro-batch folding equals the
one-shot batch query, and the end-to-end sink accumulates credits."""

import json
import math
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.plans.common import events_t
from storagetapper_spark.plans.registry import QUERIES
from storagetapper_spark.streaming.attribution import (
    attribution_sink,
    fold_attribution_batch,
    read_credits,
)


def _batches_by_time(ev, n=3):
    ts = sorted(r.ts for r in ev.select("ts").collect())
    cuts = [ts[len(ts) * i // n] for i in range(1, n)]
    lo = None
    for hi in [*cuts, None]:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("ts") >= lo)
        if hi is not None:
            cond = cond & (F.col("ts") < hi)
        yield ev.where(cond)
        lo = hi


def test_incremental_folding_matches_batch_query(spark, sf_dir):
    ev = (events_t(spark, sf_dir)
          .filter(F.col("event_type").isin("view", "click", "purchase"))
          .select("user_id", "event_id", "event_type", "ts", "value"))
    state, totals = None, {}
    for b in _batches_by_time(ev, 3):
        state, credits, _ = fold_attribution_batch(state, b)
        for r in credits.collect():
            c, n = totals.get(r.channel, (0.0, 0))
            totals[r.channel] = (c + r.credit, n + r.n_credits)
    want = {r.channel: (r.attributed_value, r.n_credits)
            for r in QUERIES["attribution_linear"](spark, sf_dir).collect()}
    assert set(totals) == set(want)
    for ch, (v, n) in want.items():
        assert math.isclose(totals[ch][0], v, rel_tol=1e-6), ch
        assert totals[ch][1] == n, ch


def test_users_absent_from_batch_keep_state(spark):
    rows = [(1, 1, "view", 10.0, 0.0), (2, 2, "view", 11.0, 0.0)]
    b1 = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, "
              "ts double, value double")
    state, _, _ = fold_attribution_batch(None, b1)
    only_u1 = spark.createDataFrame(
        [(1, 3, "purchase", 20.0, 100.0)],
        "user_id long, event_id long, event_type string, "
        "ts double, value double")
    state2, credits, _ = fold_attribution_batch(state, only_u1)
    st = {r.user_id: (r.n_view, r.n_click) for r in state2.collect()}
    assert st[2] == (1, 0)        # untouched user keeps the open touch
    assert st[1] == (0, 0)        # purchase closed user 1's episode
    cr = {r.channel: r.credit for r in credits.collect()}
    assert math.isclose(cr["view"], 100.0, rel_tol=1e-9)


def test_attribution_sink_end_to_end(spark, tmp_path, assert_only_current):
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
    ])
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))

    def drop(name, rows):
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(
                    ("user_id", "event_id", "event_type", "ts", "value"),
                    r))) + "\n")

    drop("b1.json", [(1, 1, "view", 1.0, 0.0), (1, 2, "click", 2.0, 0.0)])
    stream = spark.readStream.schema(schema).json(src)
    attribution_sink(stream, state, ckpt).awaitTermination(60)

    # second batch: purchase closes the episode opened in batch 1
    drop("b2.json", [(1, 3, "purchase", 3.0, 90.0),
                     (2, 4, "purchase", 3.5, 50.0)])
    stream = spark.readStream.schema(schema).json(src)
    attribution_sink(stream, state, ckpt).awaitTermination(60)

    cr = {r.channel: round(r.credit, 6)
          for r in read_credits(spark, state).collect()}
    assert cr == {"view": 45.0, "click": 45.0, "(direct)": 50.0}
    for table in ("credits", "episodes"):
        assert_only_current(os.path.join(state, table), 1)


def test_attribution_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: deleting the checkpoint's commit
    marker makes the restarted stream REPLAY the last batch after its
    state swap already happened — the exact crash window from ADVICE r3.
    The v{batch_id} guard must keep credits and episode state identical
    instead of double-counting."""
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
    ])
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))
    os.makedirs(src, exist_ok=True)
    rows = [(1, 1, "view", 1.0, 0.0), (1, 2, "purchase", 2.0, 80.0)]
    with open(os.path.join(src, "b1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(dict(zip(
                ("user_id", "event_id", "event_type", "ts", "value"),
                r))) + "\n")
    stream = spark.readStream.schema(schema).json(src)
    attribution_sink(stream, state, ckpt).awaitTermination(60)
    before = {r.channel: round(r.credit, 6)
              for r in read_credits(spark, state).collect()}
    assert before == {"view": 80.0}
    # simulate the crash: state published, checkpoint commit lost
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream = spark.readStream.schema(schema).json(src)
    attribution_sink(stream, state, ckpt).awaitTermination(60)
    after = {r.channel: round(r.credit, 6)
             for r in read_credits(spark, state).collect()}
    assert after == before, "replayed batch double-counted credits"
