"""Streaming CUSUM: incremental folding across ordered micro-batches
equals the one-shot recursion, and matches the batch query's end state."""

import math

from pyspark.sql import functions as F

from storagetapper_spark.plans.common import events_t
from storagetapper_spark.plans.registry import QUERIES
from storagetapper_spark.streaming.cusum import (
    fold_cusum_batch,
    train_baseline,
)


def _daily(ev):
    return (ev.groupBy("event_type", F.to_date("ts").alias("d"))
            .agg(F.count(F.lit(1)).alias("x")))


def _state_key(rows):
    return {r.event_type: (str(r.last_d), round(r.sp, 9), round(r.sn, 9),
                           r.n_alarms_up, r.n_alarms_down) for r in rows}


def test_incremental_folding_equals_one_shot(spark, sf_dir):
    ev = events_t(spark, sf_dir)
    base = train_baseline(ev)
    daily = _daily(ev)
    dates = sorted(r.d for r in daily.select("d").distinct().collect())
    cut1, cut2 = str(dates[len(dates) // 3]), str(dates[2 * len(dates) // 3])
    batches = [daily.where(F.col("d") < cut1),
               daily.where((F.col("d") >= cut1) & (F.col("d") < cut2)),
               daily.where(F.col("d") >= cut2)]
    state = None
    for b in batches:
        state = fold_cusum_batch(state, b, base)
    got = _state_key(state.collect())
    want = _state_key(fold_cusum_batch(None, daily, base).collect())
    assert got == want


def test_stream_end_state_matches_batch_query(spark, sf_dir):
    ev = events_t(spark, sf_dir)
    state = fold_cusum_batch(None, _daily(ev), train_baseline(ev))
    got = {r.event_type: (round(r.sp, 6), round(r.sn, 6))
           for r in state.collect()}
    rows = QUERIES["anomaly_cusum"](spark, sf_dir).collect()
    last: dict = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.d)):
        last[r.event_type] = (r.sp, r.sn)
    for et, (sp, sn) in last.items():
        assert math.isclose(got[et][0], sp, abs_tol=1e-6)
        assert math.isclose(got[et][1], sn, abs_tol=1e-6)


def test_series_absent_from_batch_keeps_state(spark, sf_dir):
    ev = events_t(spark, sf_dir)
    base = train_baseline(ev)
    daily = _daily(ev)
    s1 = fold_cusum_batch(None, daily, base)
    only_click = daily.where("event_type = 'click'").limit(0)
    # an empty batch (no series at all) leaves every state row intact
    s2 = fold_cusum_batch(s1, only_click, base)
    assert _state_key(s2.collect()) == _state_key(s1.collect())


def test_cusum_sink_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Same at-least-once crash window as the attribution sink
    (ADVICE r3): a replayed batch whose v{batch_id} already exists must
    republish, not re-fold its daily counts onto 'current'."""
    import json
    import os

    from pyspark.sql import types as T

    from storagetapper_spark.streaming.cusum import cusum_sink, read_monitor

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for d in range(1, 8):
            for _ in range(10 + 5 * d):   # drifting-up counts
                f.write(json.dumps({"event_type": "click",
                                    "ts": f"2024-01-{d:02d}T12:00:00"})
                        + "\n")
    base = spark.createDataFrame([("click", 10.0, 2.0)],
                                 "event_type string, mu double, sigma double")
    stream = spark.readStream.schema(schema).json(src)
    q = cusum_sink(stream, base, state, ckpt)
    q.awaitTermination(60)
    q.stop()
    before = {r.event_type: (round(r.sp, 9), round(r.sn, 9),
                             r.n_alarms_up, r.n_alarms_down)
              for r in read_monitor(spark, state).collect()}
    assert before["click"][0] > 0        # drift accumulated
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream = spark.readStream.schema(schema).json(src)
    q = cusum_sink(stream, base, state, ckpt)
    q.awaitTermination(60)
    q.stop()
    after = {r.event_type: (round(r.sp, 9), round(r.sn, 9),
                            r.n_alarms_up, r.n_alarms_down)
             for r in read_monitor(spark, state).collect()}
    assert after == before, "replayed batch re-folded CUSUM state"


def test_cusum_sink_surfaces_unmonitored_series(spark, tmp_path,
                                                assert_only_current):
    """A series missing from the frozen baseline lands in the
    'unmonitored' side table instead of vanishing (ADVICE r3)."""
    import json
    import os

    from pyspark.sql import types as T

    from storagetapper_spark.streaming.cusum import cusum_sink

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"event_type": "click",
                            "ts": "2024-01-01T12:00:00"}) + "\n")
        f.write(json.dumps({"event_type": "brand_new",
                            "ts": "2024-01-01T13:00:00"}) + "\n")
    base = spark.createDataFrame([("click", 10.0, 2.0)],
                                 "event_type string, mu double, sigma double")
    stream = spark.readStream.schema(schema).json(src)
    cusum_sink(stream, base, state, ckpt).awaitTermination(60)
    un = spark.read.parquet(os.path.join(state, "cusum", "unmonitored"))
    assert [r.event_type for r in un.collect()] == ["brand_new"]
    assert_only_current(os.path.join(state, "cusum"), 0,
                        others=["unmonitored"])


def test_cusum_unmonitored_replay_does_not_duplicate(spark, tmp_path):
    """At-least-once replay of a batch must not duplicate rows in the
    'unmonitored' side table: it is written as a _batch-partitioned
    dynamic overwrite, so the replay replaces its own partition
    (ADVICE r4)."""
    import json
    import os

    from pyspark.sql import types as T

    from storagetapper_spark.streaming.cusum import cusum_sink

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"event_type": "click",
                            "ts": "2024-01-01T12:00:00"}) + "\n")
        f.write(json.dumps({"event_type": "brand_new",
                            "ts": "2024-01-01T13:00:00"}) + "\n")
    base = spark.createDataFrame([("click", 10.0, 2.0)],
                                 "event_type string, mu double, sigma double")
    stream = spark.readStream.schema(schema).json(src)
    cusum_sink(stream, base, state, ckpt).awaitTermination(60)
    # simulate a crash AFTER the unmonitored write but BEFORE the state
    # committed: delete both the checkpoint's commit marker and the
    # batch's state, forcing a full re-execution of batch 0 (not just
    # the replay guard's skip)
    import shutil
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    shutil.rmtree(os.path.join(state, "cusum", "current"))
    stream = spark.readStream.schema(schema).json(src)
    cusum_sink(stream, base, state, ckpt).awaitTermination(60)
    un = spark.read.parquet(os.path.join(state, "cusum", "unmonitored"))
    assert [r.event_type for r in un.collect()] == ["brand_new"]


def test_train_baseline_constant_series_sigma_is_zero(spark):
    """Exact-sum variance of a constant series can round to a tiny
    negative; sqrt must clamp to 0.0, not NaN (ADVICE r3)."""
    rows = [("steady", f"2024-01-{d:02d}T0{h}:00:00")
            for d in range(1, 30) for h in range(7)]
    df = (spark.createDataFrame(rows, "event_type string, s string")
          .selectExpr("event_type", "cast(s as timestamp) as ts"))
    out = train_baseline(df).collect()
    assert len(out) == 1
    assert out[0].sigma == 0.0 and not math.isnan(out[0].sigma)
