"""Batch-incremental SCD2 / IVM maintenance: folding micro-batches must
equal the one-shot computation over the concatenated changelog."""

import math

from pyspark.sql import functions as F

from storagetapper_spark.operators.history import scd2_history
from storagetapper_spark.operators.merge import latest_state
from storagetapper_spark.plans.common import events_t
from storagetapper_spark.sources.changelog import events_as_changelog
from storagetapper_spark.streaming.history import (
    apply_delta_batch,
    scd2_apply_batch,
)


def _changelog(spark, sf_dir):
    ev = events_t(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.round("value", 2).alias("value"))
    return events_as_changelog(ev)


def _batches(cdc, cuts):
    lo = None
    for hi in [*cuts, None]:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("seqno") >= lo)
        if hi is not None:
            cond = cond & (F.col("seqno") < hi)
        yield cdc.where(cond)
        lo = hi


def _scd2_key(r):
    return (r.user_id, r.valid_from, r.valid_to, r.is_current,
            r.event_type, r.value)


def test_scd2_incremental_equals_full(spark, sf_dir):
    cdc = _changelog(spark, sf_dir)
    state = None
    for b in _batches(cdc, [300, 700]):
        state = scd2_apply_batch(state, b, pk_cols=["user_id"])
    got = sorted(_scd2_key(r) for r in state.collect())
    want = sorted(_scd2_key(r)
                  for r in scd2_history(cdc, pk_cols=["user_id"]).collect())
    assert got == want


def test_scd2_apply_batch_replay_is_idempotent(spark, sf_dir):
    cdc = _changelog(spark, sf_dir)
    batches = list(_batches(cdc, [500]))
    once = scd2_apply_batch(scd2_apply_batch(None, batches[0], ["user_id"]),
                            batches[1], ["user_id"])
    replayed = scd2_apply_batch(once, batches[1], ["user_id"])  # same batch again
    got = sorted(_scd2_key(r) for r in replayed.collect())
    want = sorted(_scd2_key(r) for r in once.collect())
    assert got == want


def test_delta_fold_equals_direct_aggregate(spark, sf_dir):
    cdc = _changelog(spark, sf_dir).withColumn(
        "bucket", (F.col("user_id") % 10).cast("long"))
    agg, keystate = None, None
    for b in _batches(cdc, [250, 500, 750]):
        agg, keystate = apply_delta_batch(
            agg, keystate, b, pk_cols=["user_id"], value_col="value",
            group_col="bucket")
        # materialize each generation (foreachBatch persists to the
        # state dir in production; plans would otherwise stack)
        agg = b.sparkSession.createDataFrame(agg.collect(), agg.schema)
        keystate = b.sparkSession.createDataFrame(
            keystate.collect(), keystate.schema)
    state = latest_state(cdc, pk_cols=["user_id"])
    direct = {r.bucket: (float(r.s), r.n) for r in
              state.groupBy("bucket")
                   .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
                        F.count(F.lit(1)).alias("n")).collect()}
    folded = {r.bucket: (float(r.sum_value), r.n_live) for r in agg.collect()}
    for b, (s, n) in direct.items():
        fs, fn = folded[b]
        assert fn == n, b
        assert math.isclose(fs, s, abs_tol=1e-9), b
    # buckets never touched by a live key may exist with zero totals
    for b, (fs, fn) in folded.items():
        if b not in direct:
            assert fn == 0 and fs == 0.0


def test_keystate_tracks_latest_per_key(spark, sf_dir):
    cdc = _changelog(spark, sf_dir).withColumn(
        "bucket", (F.col("user_id") % 10).cast("long"))
    agg, keystate = apply_delta_batch(
        None, None, cdc, pk_cols=["user_id"], value_col="value",
        group_col="bucket")
    ks = {r.user_id: (float(r.last_value), r.live) for r in keystate.collect()}
    latest = latest_state(cdc, pk_cols=["user_id"], drop_deleted=False)
    for r in latest.collect():
        lv, live = ks[r.user_id]
        if r.op == "delete":
            assert (lv, live) == (0.0, 0)
        else:
            assert live == 1 and math.isclose(lv, r.value, abs_tol=1e-9)


def test_scd2_sink_end_to_end(spark, sf_dir, tmp_path, assert_only_current):
    """File-source micro-batches → scd2_sink → history table (the
    streaming form; mirrors test_streaming.test_incremental_upsert)."""
    import json
    import os

    from pyspark.sql import types as T

    from storagetapper_spark.streaming.history import read_history, scd2_sink
    from storagetapper_spark.streaming.pipeline import read_changelog_stream

    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("seqno", T.LongType()),
    ])
    src, hist, ckpt = (str(tmp_path / d) for d in ("feed", "hist", "ckpt"))

    def drop(name, events):
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, name), "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    drop("b1.json", [
        {"pk": 1, "val": "a", "op": "insert", "seqno": 1},
        {"pk": 2, "val": "b", "op": "insert", "seqno": 2},
    ])
    scd2_sink(read_changelog_stream(spark, src, schema), hist, ckpt,
              pk_cols=["pk"]).awaitTermination(60)
    cur = {r.pk: r.val for r in read_history(spark, hist)
           .where("is_current").collect()}
    assert cur == {1: "a", 2: "b"}

    # update pk=1 (new version), delete pk=2 (closes without current)
    drop("b2.json", [
        {"pk": 1, "val": "a2", "op": "update", "seqno": 3},
        {"pk": 2, "val": None, "op": "delete", "seqno": 4},
    ])
    scd2_sink(read_changelog_stream(spark, src, schema), hist, ckpt,
              pk_cols=["pk"]).awaitTermination(60)
    rows = read_history(spark, hist).collect()
    cur = {r.pk: r.val for r in rows if r.is_current}
    assert cur == {1: "a2"}
    versions = sorted((r.pk, r.valid_from, r.valid_to) for r in rows)
    assert versions == [(1, 1, 3), (1, 3, None), (2, 2, 4)]
    assert_only_current(hist, 1)


def test_one_feed_three_consistent_products(spark, sf_dir, tmp_path):
    """One scripted changelog drives all three warehouse products —
    latest state, SCD2 history, maintained aggregate — and they must
    agree: state == open SCD2 versions; aggregate == SUM over state."""
    import json
    import os

    from pyspark.sql import types as T

    from storagetapper_spark.streaming.history import read_history, scd2_sink
    from storagetapper_spark.streaming.pipeline import (
        incremental_upsert_sink,
        read_changelog_stream,
        read_state,
    )

    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("grp", T.LongType()),
        T.StructField("val", T.DoubleType()),
        T.StructField("op", T.StringType()),
        T.StructField("seqno", T.LongType()),
    ])
    src = str(tmp_path / "feed")
    os.makedirs(src)
    script = [
        {"pk": 1, "grp": 0, "val": 10.0, "op": "insert", "seqno": 1},
        {"pk": 2, "grp": 1, "val": 20.0, "op": "insert", "seqno": 2},
        {"pk": 3, "grp": 0, "val": 30.0, "op": "insert", "seqno": 3},
        {"pk": 1, "grp": 0, "val": 15.0, "op": "update", "seqno": 4},
        {"pk": 2, "grp": 1, "val": None, "op": "delete", "seqno": 5},
        {"pk": 4, "grp": 1, "val": 40.0, "op": "insert", "seqno": 6},
        {"pk": 3, "grp": 0, "val": 35.0, "op": "update", "seqno": 7},
    ]
    # two micro-batches, split mid-script
    with open(os.path.join(src, "b1.json"), "w") as f:
        for e in script[:4]:
            f.write(json.dumps(e) + "\n")

    state_dir, hist_dir = str(tmp_path / "state"), str(tmp_path / "hist")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    def drain():
        incremental_upsert_sink(
            read_changelog_stream(spark, src, schema), state_dir, ck1,
            pk_cols=["pk"]).awaitTermination(60)
        scd2_sink(read_changelog_stream(spark, src, schema), hist_dir, ck2,
                  pk_cols=["pk"]).awaitTermination(60)

    drain()
    with open(os.path.join(src, "b2.json"), "w") as f:
        for e in script[4:]:
            f.write(json.dumps(e) + "\n")
    drain()

    state = {r.pk: (r.grp, r.val) for r in read_state(spark, state_dir).collect()}
    assert state == {1: (0, 15.0), 3: (0, 35.0), 4: (1, 40.0)}

    hist = read_history(spark, hist_dir).collect()
    open_versions = {r.pk: (r.grp, r.val) for r in hist if r.is_current}
    assert open_versions == state  # product consistency #1

    # maintained aggregate from the same feed (batch-incremental fold)
    from pyspark.sql import functions as F

    from storagetapper_spark.streaming.history import apply_delta_batch

    feed = (spark.read.schema(schema).json(src)
                 .withColumn("grp", F.coalesce("grp", F.lit(-1))))
    agg = None
    keystate = None
    for lo, hi in ((1, 4), (5, 7)):
        b = feed.where(F.col("seqno").between(lo, hi))
        agg, keystate = apply_delta_batch(
            agg, keystate, b, pk_cols=["pk"], value_col="val",
            group_col="grp")
    folded = {r.grp: (float(r.sum_value), r.n_live) for r in agg.collect()}
    # product consistency #2: aggregate == SUM/COUNT over latest state
    assert folded[0] == (50.0, 2)
    assert folded[1] == (40.0, 1)


def test_ivm_sink_end_to_end(spark, tmp_path, assert_only_current):
    """File-source micro-batches → ivm_sink → maintained aggregate."""
    import json
    import os

    from pyspark.sql import types as T

    from storagetapper_spark.streaming.history import ivm_sink, read_aggregate
    from storagetapper_spark.streaming.pipeline import read_changelog_stream

    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("grp", T.LongType()),
        T.StructField("val", T.DoubleType()),
        T.StructField("op", T.StringType()),
        T.StructField("seqno", T.LongType()),
    ])
    src, state, ck = (str(tmp_path / d) for d in ("feed", "state", "ck"))
    os.makedirs(src)

    def drop(name, events):
        with open(os.path.join(src, name), "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    drop("b1.json", [
        {"pk": 1, "grp": 0, "val": 10.0, "op": "insert", "seqno": 1},
        {"pk": 2, "grp": 1, "val": 20.0, "op": "insert", "seqno": 2},
    ])
    ivm_sink(read_changelog_stream(spark, src, schema), state, ck,
             pk_cols=["pk"], value_col="val",
             group_col="grp").awaitTermination(60)
    agg = {r.grp: (float(r.sum_value), r.n_live)
           for r in read_aggregate(spark, state).collect()}
    assert agg == {0: (10.0, 1), 1: (20.0, 1)}

    drop("b2.json", [
        {"pk": 1, "grp": 0, "val": 15.0, "op": "update", "seqno": 3},
        {"pk": 2, "grp": 1, "val": None, "op": "delete", "seqno": 4},
        {"pk": 3, "grp": 1, "val": 7.0, "op": "insert", "seqno": 5},
    ])
    ivm_sink(read_changelog_stream(spark, src, schema), state, ck,
             pk_cols=["pk"], value_col="val",
             group_col="grp").awaitTermination(60)
    agg = {r.grp: (float(r.sum_value), r.n_live)
           for r in read_aggregate(spark, state).collect()}
    assert agg == {0: (15.0, 1), 1: (7.0, 1)}
    for table in ("agg", "keystate"):
        assert_only_current(os.path.join(state, table), 1)
