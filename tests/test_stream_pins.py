"""Long-running micro-batch jobs hold nothing per batch: after each of
three batches through the attribution sink, the semantic-dedup sink and
the absorption monitor, the cache manager is empty and the number of
persistent RDDs (pins) is the same as after the first batch
(operators/pin: a frame pinned inside a batch body is released before
the body returns)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.plans.common import events_t
from storagetapper_spark.streaming import absorption as AB
from storagetapper_spark.streaming.attribution import attribution_sink
from storagetapper_spark.streaming.semantic import semantic_dedup_sink

_EVENT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("ts", T.DoubleType()),
    T.StructField("value", T.DoubleType()),
])


@pytest.fixture
def held(spark):
    """Start from an empty cache manager and no persistent RDD; the
    returned probe reads (cache entries, persistent RDDs)."""
    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    for rdd in list(persistent().values()):
        rdd.unpersist(False)
    cache = spark._jsparkSession.sharedState().cacheManager()
    return lambda: (cache.numCachedEntries(), persistent().size())


def _assert_flat(after_each_batch):
    assert [c for c, _ in after_each_batch] == [0, 0, 0], after_each_batch
    assert len({n for _, n in after_each_batch}) == 1, after_each_batch


def test_attribution_sink_holds_nothing_per_batch(spark, tmp_path, held):
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))
    os.makedirs(src)
    seen = []
    for b in range(3):
        with open(os.path.join(src, f"b{b}.json"), "w") as f:
            for i, kind in enumerate(("view", "click", "purchase")):
                f.write(json.dumps({"user_id": b, "event_id": 10 * b + i,
                                    "event_type": kind, "ts": 10.0 * b + i,
                                    "value": 50.0}) + "\n")
        stream = spark.readStream.schema(_EVENT_SCHEMA).json(src)
        q = attribution_sink(stream, state, ckpt)
        q.awaitTermination(60)
        q.stop()
        seen.append(held())
    _assert_flat(seen)


def test_semantic_dedup_sink_holds_nothing_per_batch(spark, sf_dir, tmp_path,
                                                     held):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = np.array([list(r[0]) for r in emb.orderBy("vec_id").limit(8)
                  .select("embedding").collect()], dtype=np.float64)
    feed, state, ckpt = (str(tmp_path / d) for d in ("feed", "sem", "ck"))
    seen = []
    for b in range(3):
        (emb.where(F.col("vec_id") % 3 == b)
         .write.parquet(os.path.join(feed, f"b{b}")))
        stream = (spark.readStream.schema(emb.schema)
                  .option("recursiveFileLookup", "true").parquet(feed))
        q = semantic_dedup_sink(stream, state, ckpt, C, threshold=0.35)
        q.awaitTermination(120)
        q.stop()
        seen.append(held())
    _assert_flat(seen)


def test_absorption_monitor_holds_nothing_per_batch(spark, sf_dir, tmp_path,
                                                    held):
    state = str(tmp_path / "ab")
    ev = events_t(spark, sf_dir)
    seen = []
    for b in range(3):
        AB.ingest_batch(spark, ev.filter(F.col("user_id") % 3 == b), b,
                        state)
        AB.current_absorption(spark, state).collect()
        seen.append(held())
    _assert_flat(seen)
