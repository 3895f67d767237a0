"""Streaming maintenance of an IVF (inverted-file) ANN index.

The ingest half of operators/similarity.ivf_topk, in micro-batch form:
each batch's vectors are assigned to their nearest centroid
(mapInPandas numpy argmax — the same kernel the batch searcher uses)
and land in a parquet index partitioned by (ingest batch, cell).
Partitioning by cell is the point: a search probes n_probe cells, so
the scan prunes to n_probe/n_centroids of the corpus via partition
pruning — no bespoke index format, just layout.

The cells are a batch-delta log split by cell (statefs module
docstring, "Batch-delta logs"), so a checkpoint-replayed batch
replaces itself instead of appending duplicates
(tests/test_ann_index_stream.py proves idempotence).

Centroids are trained once (operators/similarity.train_centroids) and
frozen for the index lifetime — the standard IVF contract; retraining
means reindexing.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.operators.similarity import cosine
from storagetapper_spark.statefs import join_uri, write_delta


def _normed(C) -> np.ndarray:
    C = np.asarray(C, dtype=np.float64)
    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def assign_cells(df: DataFrame, centroids, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, vec, centroid_id): nearest-centroid assignment, Arrow-batched."""
    Cn = _normed(centroids)
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(vec_col, T.ArrayType(T.FloatType())),
        T.StructField("centroid_id", T.IntegerType()),
    ])

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                                1e-12)
            pdf = pdf.copy()
            pdf["centroid_id"] = (Vn @ Cn.T).argmax(axis=1).astype("int32")
            yield pdf[[id_col, vec_col, "centroid_id"]]

    return df.select(id_col, vec_col).mapInPandas(assign, schema)


def apply_ingest_batch(spark, batch_df: DataFrame, index_dir: str,
                       centroids, batch_id: int, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> None:
    """Pure batch form (the sink wraps it; tests call it directly)."""
    write_delta(assign_cells(batch_df, centroids, id_col, vec_col),
                join_uri(index_dir, "cells"), batch_id, "centroid_id")


def ivf_ingest_sink(stream: DataFrame, index_dir: str, checkpoint_dir: str,
                    centroids, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    trigger_available_now: bool = True):
    """foreachBatch maintenance of the cell-partitioned index."""
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_ingest_batch(batch_df.sparkSession, batch_df, index_dir,
                           centroids, batch_id, id_col, vec_col)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_index(spark, index_dir: str) -> DataFrame:
    return spark.read.parquet(join_uri(index_dir, "cells"))


def search_index(spark, index_dir: str, queries: DataFrame, centroids,
                 k: int = 5, n_probe: int = 4, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 query_id_col: str = "query_id") -> DataFrame:
    """Probe the ingested index: per query, scan only the n_probe
    nearest cells (partition-pruned via the centroid_id filter) and
    rank by cosine — the serving half of ivf_topk over the
    streaming-maintained layout."""
    Cn = _normed(centroids)
    probe_schema = T.StructType([
        T.StructField(query_id_col, T.LongType()),
        T.StructField("centroid_id", T.IntegerType()),
        T.StructField("_qvec", T.ArrayType(T.DoubleType())),
    ])

    def probe_assign(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True),
                                1e-12)
            order = np.argsort(-(Qn @ Cn.T), axis=1,
                               kind="stable")[:, :n_probe]
            rows = []
            for qi, qid in enumerate(pdf[query_id_col]):
                qv = [float(x) for x in Q[qi]]
                for c in order[qi]:
                    rows.append((int(qid), int(c), qv))
            yield pd.DataFrame(
                rows, columns=[query_id_col, "centroid_id", "_qvec"])

    probe_df = F.broadcast(
        queries.select(query_id_col, vec_col).mapInPandas(probe_assign,
                                                          probe_schema))
    cells = read_index(spark, index_dir)
    sim = F.round(cosine(F.col(vec_col), F.col("_qvec")), 6)
    scored = (cells.join(probe_df, on="centroid_id")
              .select(query_id_col, id_col, sim.alias("cosine_sim")))
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.col("cosine_sim").desc(), F.col(id_col)))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
