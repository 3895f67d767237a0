"""Streaming IVF index maintenance: incremental ingest == one-shot
assignment, replay-idempotent batches, and serving recall off the
maintained layout."""

from pyspark.sql import functions as F

from storagetapper_spark.operators.similarity import brute_force_topk
from storagetapper_spark.plans.common import t
from storagetapper_spark.streaming.ann_index import (
    apply_ingest_batch,
    assign_cells,
    read_index,
    search_index,
)


def _centroids(emb, n=8):
    rows = emb.orderBy("vec_id").limit(n).select("embedding").collect()
    return [list(r.embedding) for r in rows]


def test_incremental_ingest_equals_one_shot(spark, sf_dir, tmp_path):
    emb = t(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    idx = str(tmp_path / "ivf")
    for i in range(3):
        apply_ingest_batch(spark, emb.where(F.col("vec_id") % 3 == i),
                           idx, cents, batch_id=i)
    got = {(r.vec_id, r.centroid_id) for r in read_index(spark, idx)
           .select("vec_id", "centroid_id").collect()}
    want = {(r.vec_id, r.centroid_id)
            for r in assign_cells(emb, cents).collect()}
    assert got == want and len(got) == emb.count()


def test_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    emb = t(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    idx = str(tmp_path / "ivf")
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    apply_ingest_batch(spark, b1, idx, cents, batch_id=0)
    apply_ingest_batch(spark, emb.where(F.col("vec_id") % 2 == 1),
                       idx, cents, batch_id=1)
    before = sorted((r.vec_id, r.centroid_id)
                    for r in read_index(spark, idx)
                    .select("vec_id", "centroid_id").collect())
    apply_ingest_batch(spark, b1, idx, cents, batch_id=0)  # replay batch 0
    after = sorted((r.vec_id, r.centroid_id)
                   for r in read_index(spark, idx)
                   .select("vec_id", "centroid_id").collect())
    assert after == before  # dynamic overwrite replaced, not appended


def test_search_recall_off_maintained_index(spark, sf_dir, tmp_path):
    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.where("vec_id >= 10")
    queries = (emb.where("vec_id < 3")
               .selectExpr("vec_id AS query_id", "embedding"))
    cents = _centroids(emb)
    idx = str(tmp_path / "ivf")
    for i in range(2):
        apply_ingest_batch(spark, corpus.where(F.col("vec_id") % 2 == i),
                           idx, cents, batch_id=i)
    approx = search_index(spark, idx, queries, cents, k=5, n_probe=4)
    exact = brute_force_topk(corpus, queries, k=5)
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.8  # same gate as the batch IVF quality test


def test_sink_end_to_end(spark, sf_dir, tmp_path):
    import glob

    emb = t(spark, sf_dir, "embeddings").limit(60)
    cents = _centroids(emb)
    feed = str(tmp_path / "feed")
    emb.coalesce(1).write.mode("overwrite").parquet(feed)
    idx, ckpt = str(tmp_path / "ivf"), str(tmp_path / "ckpt")

    from storagetapper_spark.streaming.ann_index import ivf_ingest_sink

    stream = spark.readStream.schema(emb.schema).parquet(feed)
    ivf_ingest_sink(stream, idx, ckpt, cents).awaitTermination(60)
    assert read_index(spark, idx).count() == 60
    # layout really is cell-partitioned (partition pruning surface)
    assert glob.glob(f"{idx}/cells/_batch=*/centroid_id=*")


def test_sink_keeps_every_batch(spark, sf_dir, tmp_path):
    """Three files drained one per trigger: each micro-batch writes its
    own ``_batch=`` partitions and leaves the earlier ones in place."""
    import os

    from storagetapper_spark.streaming.ann_index import ivf_ingest_sink

    emb = t(spark, sf_dir, "embeddings").where("vec_id < 60")
    cents = _centroids(emb)
    feed = str(tmp_path / "feed")
    for i in range(3):
        (emb.where(F.col("vec_id") % 3 == i).coalesce(1)
         .write.mode("append").parquet(feed))
    idx, ckpt = str(tmp_path / "ivf"), str(tmp_path / "ckpt")
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    ivf_ingest_sink(stream, idx, ckpt, cents).awaitTermination(120)
    got = sorted(r.vec_id for r in read_index(spark, idx).collect())
    assert got == list(range(60))
    assert sorted(d for d in os.listdir(f"{idx}/cells")
                  if d.startswith("_batch=")) == [
        "_batch=0", "_batch=1", "_batch=2"]
