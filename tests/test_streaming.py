"""Structured Streaming pipeline tests: incremental upsert materialization
(O1/E5 streaming form), watermarked windows, streaming dedup.

Uses the file source (Kafka stand-in) with availableNow triggers — each
start() drains whatever files exist, mirroring micro-batch execution.
"""

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.streaming.pipeline import (
    incremental_upsert_sink,
    read_changelog_stream,
    read_state,
    streaming_dedup,
    windowed_event_counts,
)

CDC_SCHEMA = T.StructType([
    T.StructField("pk", T.LongType()),
    T.StructField("val", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("seqno", T.LongType()),
])


def _drop(path, name, events):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_incremental_upsert(spark, tmp_path, assert_only_current):
    src = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _drop(src, "b1.json", [
        {"pk": 1, "val": "a", "op": "insert", "seqno": 1},
        {"pk": 2, "val": "b", "op": "insert", "seqno": 2},
    ])
    stream = read_changelog_stream(spark, src, CDC_SCHEMA)
    q = incremental_upsert_sink(stream, state, ckpt, pk_cols=["pk"])
    q.awaitTermination(60)
    got = {r.pk: r.val for r in read_state(spark, state).collect()}
    assert got == {1: "a", 2: "b"}

    # second micro-batch: update pk=1, delete pk=2, insert pk=3
    _drop(src, "b2.json", [
        {"pk": 1, "val": "a2", "op": "insert", "seqno": 3},
        {"pk": 2, "val": None, "op": "delete", "seqno": 4},
        {"pk": 3, "val": "c", "op": "insert", "seqno": 5},
    ])
    q2 = incremental_upsert_sink(
        read_changelog_stream(spark, src, CDC_SCHEMA), state, ckpt, pk_cols=["pk"])
    q2.awaitTermination(60)
    got = {r.pk: r.val for r in read_state(spark, state).collect()}
    assert got == {1: "a2", 3: "c"}

    # stale replay (lower seqno) cannot resurrect the deleted key
    _drop(src, "b3.json", [
        {"pk": 2, "val": "b", "op": "insert", "seqno": 2},
    ])
    q3 = incremental_upsert_sink(
        read_changelog_stream(spark, src, CDC_SCHEMA), state, ckpt, pk_cols=["pk"])
    q3.awaitTermination(60)
    got = {r.pk: r.val for r in read_state(spark, state).collect()}
    assert got == {1: "a2", 3: "c"}

    # one commit per micro-batch: after three batches state_dir holds
    # only current, marked with the last batch id — no v* or staging
    # directory survives (state_dir stays O(state) on a long stream)
    assert_only_current(state, 2)


EV_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
])


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = str(tmp_path / "ev")
    _drop(src, "e1.json", [
        {"ts": "2024-01-01T10:05:00Z", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T10:55:00Z", "user_id": 2, "value": 2.0},
        {"ts": "2024-01-01T11:05:00Z", "user_id": 1, "value": 3.0},
    ])
    stream = spark.readStream.schema(EV_SCHEMA).json(src)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = {r.window_start.hour: (r.n_events, r.sum_value)
            for r in spark.sql("select * from win_counts").collect()}
    assert rows[10] == (2, 3.0)
    assert rows[11] == (1, 3.0)


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "dups")
    _drop(src, "d1.json", [
        {"ts": "2024-01-01T10:00:00Z", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T10:00:00Z", "user_id": 1, "value": 1.0},  # retransmit
        {"ts": "2024-01-01T10:01:00Z", "user_id": 2, "value": 2.0},
    ])
    stream = spark.readStream.schema(EV_SCHEMA).json(src)
    dedup = streaming_dedup(stream, ["user_id", "ts"])
    q = (dedup.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    assert spark.sql("select count(*) n from dedup_out").collect()[0].n == 2


def test_dead_letter_queue(spark, tmp_path):
    """Malformed feed lines are quarantined to the DLQ with full
    fidelity; valid events in the same batch still materialize."""
    from storagetapper_spark.streaming.pipeline import (
        read_changelog_stream_with_dlq,
    )

    src = str(tmp_path / "feed")
    dlq = str(tmp_path / "dlq")
    out = str(tmp_path / "out")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"pk": 1, "val": "a", "op": "insert", "seqno": 1}) + "\n")
        f.write('{"pk": 2, "val": "b", "op": "insert", "seqno": }\n')   # broken
        f.write("total garbage line\n")
        f.write(json.dumps({"pk": 3, "val": "c", "op": "insert", "seqno": 3}) + "\n")

    stream, route = read_changelog_stream_with_dlq(spark, src, CDC_SCHEMA, dlq)

    def sink(batch_df, batch_id):
        route(batch_df).write.mode("append").parquet(out)

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)

    good = {r.pk for r in spark.read.parquet(out).collect()}
    assert good == {1, 3}
    bad_lines = {r.value for r in spark.read.text(dlq).collect()}
    assert bad_lines == {'{"pk": 2, "val": "b", "op": "insert", "seqno": }',
                         "total garbage line"}


def test_stream_stream_join(spark, tmp_path):
    """Two live streams joined on key within a time bound; an
    out-of-window pair does not match."""
    from pyspark.sql import types as T

    from storagetapper_spark.streaming.pipeline import stream_stream_join

    ls, rs = str(tmp_path / "l"), str(tmp_path / "r")
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("ts", T.TimestampType()),
                        T.StructField("v", T.StringType())])
    _drop(ls, "a.json", [
        {"k": 1, "ts": "2024-01-01T10:00:00", "v": "L1"},
        {"k": 2, "ts": "2024-01-01T10:00:00", "v": "L2"},
    ])
    _drop(rs, "a.json", [
        {"k": 1, "ts": "2024-01-01T10:30:00", "v": "R1"},   # within 1h
        {"k": 2, "ts": "2024-01-01T12:30:00", "v": "R2"},   # outside 1h
    ])
    left = spark.readStream.schema(sch).json(ls) \
        .select("k", "ts", F.col("v").alias("lv"))
    right = spark.readStream.schema(sch).json(rs) \
        .select(F.col("k").alias("rk"), F.col("ts").alias("rts"),
                F.col("v").alias("rv"))
    joined = stream_stream_join(left, right, "k", "ts", "rts",
                                within="1 hour", right_key="rk")
    q = (joined.writeStream.format("memory").queryName("ssj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(90)
    rows = [(r.k, r.lv, r.rv) for r in spark.table("ssj").collect()]
    assert rows == [(1, "L1", "R1")]


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Unmatched left events emit null-padded once the watermark passes
    the end of their join window (needs a second micro-batch whose
    events advance the watermark)."""
    from pyspark.sql import types as T

    from storagetapper_spark.streaming.pipeline import stream_stream_join

    ls, rs = str(tmp_path / "l"), str(tmp_path / "r")
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("ts", T.TimestampType()),
                        T.StructField("v", T.StringType())])
    _drop(ls, "a.json", [
        {"k": 1, "ts": "2024-01-01T10:00:00", "v": "L1"},   # will match
        {"k": 2, "ts": "2024-01-01T10:00:00", "v": "L2"},   # never matches
    ])
    _drop(rs, "a.json", [
        {"k": 1, "ts": "2024-01-01T10:30:00", "v": "R1"},
    ])
    # watermark-advancing batch, far past 10:00 + within + watermark
    _drop(ls, "b.json", [{"k": 9, "ts": "2024-01-02T12:00:00", "v": "LX"}])
    _drop(rs, "b.json", [{"k": 9, "ts": "2024-01-02T12:00:00", "v": "RX"}])
    left = (spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .json(ls).select("k", "ts", F.col("v").alias("lv")))
    right = (spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
             .json(rs).select(F.col("k").alias("rk"),
                              F.col("ts").alias("rts"),
                              F.col("v").alias("rv")))
    joined = stream_stream_join(left, right, "k", "ts", "rts",
                                within="1 hour", watermark="30 minutes",
                                right_key="rk", how="left_outer")
    q = (joined.writeStream.format("memory").queryName("ssloj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r.k, r.lv, r.rv) for r in spark.table("ssloj").collect()}
    assert (1, "L1", "R1") in rows          # matched pair
    assert (2, "L2", None) in rows          # outer row, null-padded


def test_enriched_sink_sees_dimension_updates(spark, tmp_path):
    """Each micro-batch re-reads the dimension: rows arriving after a
    dimension update are enriched with the NEW attribute values."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from storagetapper_spark.streaming.pipeline import enriched_sink

    feed = str(tmp_path / "feed")
    dim = str(tmp_path / "dim")
    out = str(tmp_path / "out")

    spark.createDataFrame([Row(k=1, region="emea")]) \
         .write.mode("overwrite").parquet(dim)
    _drop(feed, "a.json", [{"k": 1, "v": "first"}])

    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.StringType())])
    stream = (spark.readStream.schema(sch)
              .option("maxFilesPerTrigger", 1).json(feed))
    q = enriched_sink(stream, dim, "k", out, str(tmp_path / "ck1"))
    q.awaitTermination(60)

    # update the dimension, then stream a second event
    spark.createDataFrame([Row(k=1, region="apac")]) \
         .write.mode("overwrite").parquet(dim)
    _drop(feed, "b.json", [{"k": 1, "v": "second"}])
    stream = (spark.readStream.schema(sch)
              .option("maxFilesPerTrigger", 1).json(feed))
    q = enriched_sink(stream, dim, "k", out, str(tmp_path / "ck1"))
    q.awaitTermination(60)

    rows = {(r.v, r.region) for r in spark.read.parquet(out).collect()}
    assert rows == {("first", "emea"), ("second", "apac")}
