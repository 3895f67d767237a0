"""Incremental semantic dedup (streaming/semantic.py): the union of
per-batch pair sets over ANY ingest split must equal the one-shot
within-cell pair set over the full corpus, and a replayed batch (its
vectors already indexed) must reproduce its own pairs exactly."""

import numpy as np
from pyspark.sql import functions as F

from storagetapper_spark.operators.similarity import embedding_near_dup
from storagetapper_spark.streaming.ann_index import assign_cells
from storagetapper_spark.streaming.semantic import (
    apply_semantic_batch,
    read_pairs,
    semantic_pairs_batch,
)

THRESH = 0.35


def _centroids(emb):
    cent = emb.orderBy("vec_id").limit(8).select("embedding").collect()
    return np.array([list(r[0]) for r in cent], dtype=np.float64)


def _one_shot_pairs(emb, C):
    assigned = assign_cells(emb, C).withColumnRenamed("centroid_id", "cell")
    return {(r.id_a, r.id_b)
            for r in embedding_near_dup(assigned, threshold=THRESH,
                                        block_col="cell").collect()}


def test_incremental_union_equals_one_shot(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = _centroids(emb)
    state = str(tmp_path / "sem")
    n = emb.count()
    cuts = [n // 3, 2 * n // 3]
    batches = [
        emb.where(F.col("vec_id") < cuts[0]),
        emb.where((F.col("vec_id") >= cuts[0])
                  & (F.col("vec_id") < cuts[1])),
        emb.where(F.col("vec_id") >= cuts[1]),
    ]
    for i, b in enumerate(batches):
        apply_semantic_batch(spark, b, state, C, batch_id=i,
                             threshold=THRESH)
    got = {(r.id_a, r.id_b) for r in read_pairs(spark, state).collect()}
    want = _one_shot_pairs(emb, C)
    assert got == want, (len(got), len(want),
                         sorted(got - want)[:5], sorted(want - got)[:5])
    assert want, "fixture should produce at least one pair"


def test_replayed_batch_reproduces_its_pairs(spark, sf_dir, tmp_path):
    """After batch 1 is ingested, re-running it (the at-least-once
    crash window) must yield the identical pair partition — the
    one-side-in-batch qualification is unchanged by the batch already
    being in the index, and the self-copy guard keeps a vector from
    pairing with its own indexed row."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = _centroids(emb)
    state = str(tmp_path / "sem")
    b0 = emb.where(F.col("vec_id") < 200)
    b1 = emb.where(F.col("vec_id") >= 200)
    apply_semantic_batch(spark, b0, state, C, batch_id=0, threshold=THRESH)
    apply_semantic_batch(spark, b1, state, C, batch_id=1, threshold=THRESH)
    before = {(r.id_a, r.id_b)
              for r in read_pairs(spark, state).collect()}
    # replay batch 1 after its own ingest
    apply_semantic_batch(spark, b1, state, C, batch_id=1, threshold=THRESH)
    after = {(r.id_a, r.id_b)
             for r in read_pairs(spark, state).collect()}
    assert after == before


def test_untouched_cells_are_not_scanned(spark, sf_dir, tmp_path):
    """Partition pruning contract: a batch landing in one cell reads
    only that cell's index partition."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = _centroids(emb)
    state = str(tmp_path / "sem")
    apply_semantic_batch(spark, emb, state, C, batch_id=0,
                         threshold=THRESH)
    one = emb.orderBy("vec_id").limit(1)
    pairs = semantic_pairs_batch(spark, assign_cells(one, C),
                                 f"{state}/index", threshold=THRESH)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry a centroid_id partition filter
    assert "centroid_id" in plan
    pairs.count()  # executes without touching every cell


def test_semantic_dedup_sink_end_to_end(spark, sf_dir, tmp_path):
    """The writeStream wrapper drains a file feed through the same
    protocol: pairs + index appear, pair set matches one-shot."""
    import os

    from storagetapper_spark.streaming.semantic import semantic_dedup_sink

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = _centroids(emb)
    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    emb.where("vec_id < 250").write.parquet(os.path.join(feed, "b1"))
    state, ckpt = str(tmp_path / "sem"), str(tmp_path / "ck")
    stream = (spark.readStream.schema(emb.schema)
              .option("recursiveFileLookup", "true").parquet(feed))
    q = semantic_dedup_sink(stream, state, ckpt, C, threshold=THRESH)
    q.awaitTermination(120)
    q.stop()
    emb.where("vec_id >= 250").write.parquet(os.path.join(feed, "b2"))
    stream = (spark.readStream.schema(emb.schema)
              .option("recursiveFileLookup", "true").parquet(feed))
    q = semantic_dedup_sink(stream, state, ckpt, C, threshold=THRESH)
    q.awaitTermination(120)
    q.stop()
    got = {(r.id_a, r.id_b) for r in read_pairs(spark, state).collect()}
    assert got == _one_shot_pairs(emb, C)
