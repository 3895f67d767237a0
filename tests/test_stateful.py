"""Custom stateful operator: per-key CDC conflation via
applyInPandasWithState (streaming max-seqno-wins with cross-batch state).
"""

import json
import os
import time

from pyspark.sql import types as T

from storagetapper_spark.streaming.pipeline import read_changelog_stream
from storagetapper_spark.streaming.stateful import conflate_cdc

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


def _run(spark, src, ckpt, out_dir, ttl_ms=3_600_000):
    """Drain the feed through conflate_cdc, appending each trigger's
    conflated output to parquet (foreachBatch supports checkpoint
    recovery; the memory sink does not)."""
    stream = read_changelog_stream(spark, src, CDC_SCHEMA,
                                   max_files_per_trigger=1)
    conf = conflate_cdc(stream, pk_cols=["pk"], value_cols=["val"],
                        ttl_ms=ttl_ms)

    def emit(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (conf.writeStream.foreachBatch(emit)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.parquet(out_dir)


def test_conflation_and_no_regression(spark, tmp_path):
    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")

    # trigger 1: pk=1 gets two events -> conflated to the max-seqno one
    _drop(src, "b1.json", [
        {"pk": 1, "val": "v1", "op": "insert", "seqno": 1},
        {"pk": 1, "val": "v3", "op": "insert", "seqno": 3},
    ])
    # trigger 2 (same run, maxFilesPerTrigger=1): a LATE older event for
    # pk=1 (seqno 2) and a fresh key 2
    _drop(src, "b2.json", [
        {"pk": 1, "val": "v2-late", "op": "insert", "seqno": 2},
        {"pk": 2, "val": "w", "op": "insert", "seqno": 10},
    ])
    out = _run(spark, src, ckpt, str(tmp_path / "out"))
    rows = sorted([(r.pk, r.seqno, r.val, r.n_conflated)
                   for r in out.collect()])
    # batch1: pk=1 emits seqno 3 absorbing 2 events.
    # batch2: pk=1 re-emits seqno 3 (late seqno-2 absorbed, state wins),
    #         pk=2 emits seqno 10.
    assert (1, 3, "v3", 2) in rows            # conflation in-batch
    assert (1, 3, "v3", 1) in rows            # late event didn't regress
    assert (2, 10, "w", 1) in rows
    assert (1, 2, "v2-late", 1) not in rows

    # restart from checkpoint: another late event for pk=1, delete for 2
    _drop(src, "b3.json", [
        {"pk": 1, "val": "v0-later", "op": "insert", "seqno": 0},
        {"pk": 2, "val": None, "op": "delete", "seqno": 11},
    ])
    out2 = _run(spark, src, ckpt, str(tmp_path / "out"))
    rows2 = sorted([(r.pk, r.seqno, r.val, r.op) for r in out2.collect()])
    # state recovered across restart: seqno-0 cannot regress pk=1
    assert (1, 3, "v3", "insert") in rows2
    assert (2, 11, None, "delete") in rows2


def test_conflation_tws(spark, tmp_path):
    """transformWithStateInPandas variant: same conflation contract on
    the successor API (RocksDB state store).  The API's worker protocol
    needs protobuf, which this container lacks — skipped when absent."""
    import pytest

    pytest.importorskip("google.protobuf")
    from storagetapper_spark.streaming.stateful import conflate_cdc_tws

    src = str(tmp_path / "feed")
    _drop(src, "b1.json", [
        {"pk": 1, "val": "v1", "op": "insert", "seqno": 1},
        {"pk": 1, "val": "v3", "op": "insert", "seqno": 3},
        {"pk": 2, "val": "w", "op": "insert", "seqno": 10},
    ])
    _drop(src, "b2.json", [
        {"pk": 1, "val": "late", "op": "insert", "seqno": 2},
    ])
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try:
        stream = read_changelog_stream(spark, src, CDC_SCHEMA,
                                       max_files_per_trigger=1)
        conf = conflate_cdc_tws(stream, ["pk"], ["val"], ttl_ms=3_600_000)
        out_dir = str(tmp_path / "out")

        def emit(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (conf.writeStream.foreachBatch(emit)
                 .outputMode("update")
                 .option("checkpointLocation", str(tmp_path / "ck"))
                 .trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = sorted((r.pk, r.seqno, r.val, r.n_conflated)
                      for r in spark.read.parquet(out_dir).collect())
        assert (1, 3, "v3", 2) in rows     # in-batch conflation
        assert (1, 3, "v3", 1) in rows     # late event absorbed, no regression
        assert (2, 10, "w", 1) in rows
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_idle_key_is_forgotten_on_its_next_event(spark, tmp_path):
    """Lazy TTL eviction: a key idle past ``ttl_ms`` loses its state on
    its next event, so an event with a LOWER seqno after the idle gap
    is emitted as the key's image (within the TTL it would be absorbed,
    as test_conflation_and_no_regression shows)."""
    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    ttl_ms = 1_000
    _drop(src, "b1.json", [{"pk": 1, "val": "v5", "op": "insert",
                            "seqno": 5}])
    rows = [(r.pk, r.seqno, r.val) for r in
            _run(spark, src, ckpt, out_dir, ttl_ms).collect()]
    assert rows == [(1, 5, "v5")]
    time.sleep(2 * ttl_ms / 1000)
    _drop(src, "b2.json", [{"pk": 1, "val": "v2-after-idle",
                            "op": "insert", "seqno": 2}])
    rows = sorted((r.pk, r.seqno, r.val, r.n_conflated) for r in
                  _run(spark, src, ckpt, out_dir, ttl_ms).collect())
    assert rows == [(1, 2, "v2-after-idle", 1), (1, 5, "v5", 1)]
