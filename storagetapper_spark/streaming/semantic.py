"""Incremental (streaming-ingest) semantic deduplication.

The micro-batch form of operators/similarity.semantic_dedup, built on
the cell-partitioned IVF index (streaming/ann_index): each arriving
batch of embeddings is

1. assigned to its centroid cell (frozen centroids — the IVF
   contract);
2. compared against the CURRENT index members of only its touched
   cells (partition pruning: untouched cells are never read) plus its
   own batch-mates, via one numpy GEMM per cell — new-vs-all
   rectangle, never corpus-vs-corpus;
3. its duplicate PAIRS are recorded in a batch-delta log (statefs
   module docstring, "Batch-delta logs"), so a checkpoint-replayed
   batch replaces its pairs instead of appending;
4. ingested into the index (apply_ingest_batch), making it "corpus"
   for every later batch.

Invariant (tested): the union of incremental pair sets over any batch
split equals the one-shot within-cell pair set over the full corpus —
each qualifying pair (a, b) is emitted exactly once, by the batch in
which its LATER member arrives.  The protocol is replay-idempotent by
construction: recomputing a batch's pairs after its own ingest yields
the same set (a pair with one side in the batch qualifies identically
whether the batch is already indexed), and the log write replaces
rather than appends.

This mirrors the minhash incremental path
(operators/dedup.minhash_lsh_pairs_incremental) for the embedding
modality — the ingest-time dedup a 100 TB corpus actually runs, where
re-deduplicating the full corpus per arrival is impossible.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.operators.pin import pin, release
from storagetapper_spark.statefs import exists, join_uri, write_delta
from storagetapper_spark.streaming.ann_index import (
    apply_ingest_batch,
    assign_cells,
    read_index,
)

_PAIR_SCHEMA = T.StructType([
    T.StructField("id_a", T.LongType()),
    T.StructField("id_b", T.LongType()),
    T.StructField("cosine_sim", T.DoubleType()),
])


def semantic_pairs_frames(new_assigned: DataFrame,
                          corpus_assigned: DataFrame | None,
                          threshold: float = 0.95,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Frame-level kernel: duplicate pairs with at least one side in
    `new_assigned` — (new x corpus) plus (new x new), same centroid
    cell, round-6 cosine >= threshold, emitted as id_a < id_b.  Both
    inputs carry (id, vec, centroid_id) from `assign_cells`."""
    new = new_assigned.withColumn("_new", F.lit(True))
    sides = new if corpus_assigned is None else new.unionByName(
        corpus_assigned.withColumn("_new", F.lit(False)))

    def block_pairs(pdf):
        import pandas as pd
        newm = pdf["_new"].to_numpy()
        if newm.sum() == 0 or len(pdf) < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cosine_sim": pd.Series(dtype="float64")})
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        newm = pdf["_new"].to_numpy()
        ids = pdf[id_col].to_numpy()
        V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        S = np.round(Vn[newm] @ Vn.T, 6)
        new_ids = ids[newm]
        rows = []
        for i, nid in enumerate(new_ids):
            hits = np.where(S[i] >= threshold)[0]
            for j in hits:
                oid = ids[j]
                if oid == nid:
                    continue
                # triangle guard: a new-new pair is emitted once, by
                # its smaller-id member
                if newm[j] and not (nid < oid):
                    continue
                rows.append((min(nid, oid), max(nid, oid),
                             float(S[i, j])))
        return pd.DataFrame(rows, columns=["id_a", "id_b", "cosine_sim"]) \
            if rows else pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine_sim": pd.Series(dtype="float64")})

    return (sides.groupBy("centroid_id")
            .applyInPandas(block_pairs, _PAIR_SCHEMA).distinct())


def semantic_pairs_batch(spark, new: DataFrame, index_dir: str,
                         threshold: float = 0.95,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Duplicate pairs contributed by one batch whose cells are assigned
    (``new``, an ``assign_cells`` output, read by the touched-cell
    collect and by the pair build, so pin it): (new x current-index)
    plus (new x new).  Only the batch's touched cells are scanned."""
    touched = [r.centroid_id
               for r in new.select("centroid_id").distinct().collect()]
    cells_dir = join_uri(index_dir, "cells")
    corpus = None
    if touched and exists(cells_dir):
        corpus = (read_index(spark, index_dir)
                  .where(F.col("centroid_id").isin(touched))
                  .select(id_col, vec_col, "centroid_id")
                  # a replayed batch may already be indexed: never pair
                  # a vector with its own indexed copy
                  .join(new.select(F.col(id_col).alias("_nid")),
                        F.col(id_col) == F.col("_nid"), "left_anti"))
    return semantic_pairs_frames(new, corpus, threshold, id_col, vec_col)


def apply_semantic_batch(spark, batch_df: DataFrame, state_dir: str,
                         centroids, batch_id: int,
                         threshold: float = 0.95,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> None:
    """Pure batch form (the sink wraps it; tests call it directly):
    record the batch's pairs, then ingest the batch into the index.
    Both are batch-delta log writes, so any at-least-once replay
    replaces itself."""
    index_dir = join_uri(state_dir, "index")
    new = pin(assign_cells(batch_df, centroids, id_col, vec_col))
    pairs = semantic_pairs_batch(spark, new, index_dir, threshold,
                                 id_col, vec_col)
    write_delta(pairs, join_uri(state_dir, "pairs"), batch_id)
    release(new)
    apply_ingest_batch(spark, batch_df, index_dir, centroids, batch_id,
                       id_col, vec_col)


def semantic_dedup_sink(stream: DataFrame, state_dir: str,
                        checkpoint_dir: str, centroids,
                        threshold: float = 0.95,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        trigger_available_now: bool = True):
    """foreachBatch ingest-time dedup: pairs + index maintained
    per-batch as replay-safe batch-delta logs."""
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_semantic_batch(batch_df.sparkSession, batch_df, state_dir,
                             centroids, batch_id, threshold,
                             id_col, vec_col)

    writer = (stream.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_pairs(spark, state_dir: str) -> DataFrame:
    return spark.read.parquet(join_uri(state_dir, "pairs")) \
        .select("id_a", "id_b", "cosine_sim")
