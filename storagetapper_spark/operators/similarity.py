"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; an LSH-bucketed
(random-hyperplane / SRP) variant as the 100 TB scale path — buckets cut
the candidate set from |corpus| to |bucket| per query, trading recall
for a ~2^planes reduction in compared pairs.

All dot products are pure Column expressions (zip_with + aggregate in
double precision — deterministic left-to-right fold, exactly matching a
sequential oracle).  The query side is broadcast: top-k never shuffles
the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.operators.pin import pin


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k per query.  The query set is broadcast (small
    by assumption); the corpus streams through map-side; the only
    shuffle is the final per-query top-k (k rows per query after the
    window — AQE-coalesced, tiny)."""
    q = F.broadcast(queries.select(F.col(query_id_col),
                                   F.col(vec_col).alias("_qvec")))
    corpus = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    sim = F.round(cosine(F.col(vec_col), F.col("_qvec")), 6)
    scored = (
        corpus.crossJoin(q)
              .select(F.col(query_id_col), F.col(id_col), sim.alias("cosine_sim"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: bit i = sign(vec · plane_i).
    Planes are plain Python float lists (deterministic, seeded by caller)
    folded into the expression — broadcast as literals, no UDF."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(x)) for x in p]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def make_planes(dim: int, n_planes: int = 6, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy needed at
    plan-build time, reproducible across engines)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)
        planes.append(row)
    return planes


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", n_planes: int = 6,
             dim: int = 64, seed: int = 42) -> DataFrame:
    """Approximate top-k: compare only within the query's SRP bucket.
    At 100 TB the bucket column is computed once at ingest and the
    corpus is partitioned/bucketed by it, turning ANN into a co-located
    per-bucket scan instead of a full cross join."""
    planes = make_planes(dim, n_planes, seed)
    c = corpus.withColumn("_bucket", srp_bucket(F.col(vec_col), planes))
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
               .withColumn("_bucket", srp_bucket(F.col("_qvec"), planes)))
    sim = F.round(cosine(F.col(vec_col), F.col("_qvec")), 6)
    scored = (
        c.join(q, on="_bucket")
         .select(F.col(query_id_col), F.col(id_col), sim.alias("cosine_sim"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def brute_force_topk_np(corpus: DataFrame, queries: DataFrame, k: int = 5,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        query_id_col: str = "query_id") -> DataFrame:
    """Numpy-vectorized exact top-k: per Arrow batch, one (batch × query)
    matmul, emitting only the batch-local top-k per query; a final window
    merges the partials (combiner pattern — shuffle is k rows/query/batch,
    never the full score matrix).  The query set is collected driver-side
    and closed over (small by contract, like any broadcast)."""
    import numpy as np

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)

    out_schema = T.StructType([
        T.StructField(query_id_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("cosine_sim", T.DoubleType()),
    ])

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            S = Vn @ Qn.T  # (n, q)
            kk = min(k, S.shape[0])
            top = np.argpartition(-S, kk - 1, axis=0)[:kk]  # (k, q)
            rows = []
            for qi in range(S.shape[1]):
                for ri in top[:, qi]:
                    rows.append((int(qids[qi]), int(ids[ri]),
                                 round(float(S[ri, qi]), 6)))
            yield pd.DataFrame(rows, columns=[query_id_col, id_col, "cosine_sim"])

    scored = corpus.select(id_col, vec_col).mapInPandas(gen, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def train_centroids(corpus: DataFrame, n_centroids: int,
                    vec_col: str = "embedding", seed: int = 42,
                    max_iter: int = 10):
    """k-means|| trained IVF centroids (Spark ML — distributed, one
    pass per iteration over the corpus; the production path vs the
    deterministic first-N seed).  Returns an (n_centroids × dim)
    numpy array for broadcast into cell assignment."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    return np.array(model.clusterCenters())


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             centroids=None) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    centroid cells, search only the query's ``n_probe`` nearest cells.

    Default centroids are deterministic (the first ``n_centroids``
    corpus vectors by id — oracle-reproducible); pass
    ``centroids=train_centroids(corpus, n)`` for the k-means|| trained
    production path.  At 100 TB the cell assignment is computed at
    ingest and the corpus is partitioned/bucketed by ``centroid_id``,
    so a probe reads only n_probe/n_centroids of the data — the
    classic IVF trade of recall for a ~n_centroids/n_probe scan
    reduction."""
    import numpy as np

    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    else:
        cent = corpus.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
        C = np.array([list(r[1]) for r in cent], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    assign_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(vec_col, T.ArrayType(T.FloatType())),
        T.StructField("centroid_id", T.IntegerType()),
    ])

    def assign(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            pdf = pdf.copy()
            pdf["centroid_id"] = (Vn @ Cn.T).argmax(axis=1).astype("int32")
            yield pdf[[id_col, vec_col, "centroid_id"]]

    assigned = corpus.select(id_col, vec_col).mapInPandas(assign, assign_schema)

    # query → n_probe nearest centroids, exploded as (query_id,
    # centroid_id, qvec).  Computed DISTRIBUTED (mapInPandas over the
    # query frame, centroids closed over — they're n_centroids × dim,
    # broadcast-sized by construction) and then broadcast-joined: the
    # query set reaches executors through Spark's broadcast machinery
    # rather than a driver-side Python collect loop.
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
            Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(Qn @ Cn.T), axis=1, kind="stable")[:, :n_probe]
            rows = []
            for qi, qid in enumerate(pdf[query_id_col]):
                qv = [float(x) for x in Q[qi]]
                for c in order[qi]:
                    rows.append((int(qid), int(c), qv))
            yield pd.DataFrame(rows,
                               columns=[query_id_col, "centroid_id", "_qvec"])

    probe_df = F.broadcast(
        queries.select(query_id_col, vec_col).mapInPandas(probe_assign,
                                                          probe_schema))

    sim = F.round(cosine(F.col(vec_col), F.col("_qvec")), 6)
    scored = (assigned.join(probe_df, on="centroid_id")
                      .select(query_id_col, id_col, sim.alias("cosine_sim")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def embedding_near_dup(corpus: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", threshold: float = 0.95,
                       n_planes: int = 8, dim: int = 64, seed: int = 7,
                       block_col: str | None = None,
                       keep_block: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: pairs in the same block
    with cosine ≥ threshold.  Blocking is SRP buckets by default
    (approximate, ~2^planes candidate reduction — the 100 TB path), or
    an exact metadata column via ``block_col`` (deterministic, oracle-
    checkable).  Either way the pair join shuffles only on the block
    key, never all-pairs."""
    if block_col is not None:
        c = corpus.select(id_col, vec_col, F.col(block_col).alias("_bucket"))
    else:
        planes = make_planes(dim, n_planes, seed)
        c = corpus.select(id_col, vec_col).withColumn("_bucket", srp_bucket(F.col(vec_col), planes))

    # One applyInPandas per block: the n×n cosine matrix is a single
    # BLAS GEMM over the block's vectors.  An expression-level
    # pair-join re-evaluates an interpreted fold per pair (measured
    # 37s vs <1s at sf0.1, 200k pairs) and shuffles both vectors per
    # pair; here only (id, vec) shuffles once per row, grouped by the
    # block key — block size bounds executor memory (same contract as
    # any blocked dedup).
    fields = [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cosine_sim", T.DoubleType()),
    ]
    if keep_block:
        # expose the block key so callers can run the one-pass
        # per-block union-find (connected_components_blocked, r10) —
        # a pair's two members always share the block by construction
        fields.append(T.StructField("_blk", T.LongType()))
    out_schema = T.StructType(fields)

    def block_pairs(pdf):
        import numpy as np
        import pandas as pd
        cols = {"id_a": "int64", "id_b": "int64", "cosine_sim": "float64"}
        if keep_block:
            cols["_blk"] = "int64"
        if len(pdf) < 2:
            return pd.DataFrame({k: [] for k in cols}).astype(cols)
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        S = np.round(Vn @ Vn.T, 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = S[iu, ju] >= threshold
        out = {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]],
               "cosine_sim": S[iu, ju][keep]}
        if keep_block:
            out["_blk"] = np.full(int(keep.sum()),
                                  int(pdf["_bucket"].iloc[0]), dtype="int64")
        return pd.DataFrame(out)

    return c.groupBy("_bucket").applyInPandas(block_pairs, out_schema)


def semantic_dedup(corpus: DataFrame, n_centroids: int = 16,
                   threshold: float = 0.95, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids=None) -> DataFrame:
    """SemDeDup-style semantic deduplication (the published method:
    cluster the embedding space, then drop near-cosine-duplicate
    documents WITHIN each cluster, keeping one canonical member per
    duplicate group — Abbas et al. 2023, arXiv:2303.09540).

    Composition of this module's scale primitives: centroid assignment
    (broadcast K×dim, mapInPandas GEMM — the ivf_topk ingest path),
    within-cell cosine pairs ≥ threshold (embedding_near_dup's blocked
    BLAS GEMM — never all-pairs), connected components over the pair
    edges, canonical = min id per component.

    Returns (id, cell, component, is_canonical).  Default centroids are
    the deterministic first-``n_centroids`` vectors by id (oracle-
    reproducible); pass ``centroids=train_centroids(...)`` for the
    k-means|| production path.  At 100 TB the corpus is bucketed by
    cell at ingest, so the pair stage shuffles each cell once and cell
    size bounds executor memory."""
    import numpy as np

    from storagetapper_spark.operators.dedup import (
        connected_components_blocked)

    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    else:
        cent = (corpus.orderBy(id_col).limit(n_centroids)
                .select(id_col, vec_col).collect())
        C = np.array([list(r[1]) for r in cent], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    assign_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(vec_col, T.ArrayType(T.FloatType())),
        T.StructField("cell", T.IntegerType()),
    ])

    def assign(batches):
        import pandas as pd  # noqa: F401
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                                1e-12)
            pdf = pdf.copy()
            pdf["cell"] = (Vn @ Cn.T).argmax(axis=1).astype("int32")
            yield pdf[[id_col, vec_col, "cell"]]

    # pairs + decision join both read it
    assigned = pin(corpus.select(id_col, vec_col)
                   .mapInPandas(assign, assign_schema))
    # r10: cell-blocked pairs are block-local -> one-pass union-find
    pairs = embedding_near_dup(assigned, id_col=id_col, vec_col=vec_col,
                               threshold=threshold, block_col="cell",
                               keep_block=True)
    comp = connected_components_blocked(pairs, "_blk")
    dec = (assigned.select(id_col, "cell")
           .join(comp, F.col(id_col) == F.col("node"), "left")
           .select(F.col(id_col), F.col("cell"),
                   F.coalesce("comp", F.col(id_col)).alias("component"),
                   (F.col("comp").isNull()
                    | (F.col("comp") == F.col(id_col)))
                   .alias("is_canonical")))
    return dec


def pq_encode_np(df: DataFrame, codebook: dict[int, list[int]],
                 subs: int, subdim: int, id_col: str = "vec_id",
                 vec_col: str = "xq",
                 coarse: dict[int, list[int]] | None = None,
                 with_dist: bool = False) -> DataFrame:
    """Exact-int64 product-quantization encoding as ONE Arrow pass
    (guide §4.2): per batch, numpy computes every subspace's squared-L2
    table against the (k-bounded, driver-collected) codebook and takes
    the argmin — replacing the K×subs interpreted zip_with/aggregate
    folds per row that whole-stage codegen never touches.

    Bit-exact by construction: micro-int coordinates keep every
    (x−c)² sum inside int64 (≤ dim·(2·10⁶)² ≈ 2.6·10¹⁴), and
    np.argmin's first-minimum tie-break IS the array_min struct(d, k)
    convention (codes are laid out in ascending k).  Output rows:
    (id, [cell,] sub, code[, d]) — ``subs`` rows per input vector,
    the same exploded shape the expression form produced."""
    import numpy as np
    import pandas as pd

    B = np.array([codebook[k] for k in sorted(codebook)], dtype=np.int64)
    C = (np.array([coarse[k] for k in sorted(coarse)], dtype=np.int64)
         if coarse is not None else None)

    fields = [T.StructField(id_col, T.LongType())]
    if coarse is not None:
        fields.append(T.StructField("cell", T.LongType()))
    fields += [T.StructField("sub", T.LongType()),
               T.StructField("code", T.LongType())]
    if with_dist:
        fields.append(T.StructField("d", T.LongType()))
    schema = T.StructType(fields)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.int64)
                          for v in pdf[vec_col]])
            ids = pdf[id_col].to_numpy().astype(np.int64)
            n = len(ids)
            if C is not None:
                dc = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                cell = dc.argmin(axis=1).astype(np.int64)
            cols: dict = {id_col: [], "sub": [], "code": []}
            if C is not None:
                cols["cell"] = []
            if with_dist:
                cols["d"] = []
            for s in range(subs):
                Xs = X[:, s * subdim:(s + 1) * subdim]
                Bs = B[:, s * subdim:(s + 1) * subdim]
                ds = ((Xs[:, None, :] - Bs[None, :, :]) ** 2).sum(axis=2)
                code = ds.argmin(axis=1)
                cols[id_col].append(ids)
                if C is not None:
                    cols["cell"].append(cell)
                cols["sub"].append(np.full(n, s, dtype=np.int64))
                cols["code"].append(code.astype(np.int64))
                if with_dist:
                    cols["d"].append(ds[np.arange(n), code])
            yield pd.DataFrame(
                {f.name: np.concatenate(cols[f.name]) for f in fields})

    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def cosine_score_np(df: DataFrame, a_col: str, b_col: str,
                    keep_cols: list[str], out_col: str = "sim") -> DataFrame:
    """Rounded cosine per ALREADY-PAIRED row, computed in one Arrow/
    numpy pass (guide §4.2) instead of the three interpreted
    zip_with/aggregate folds per pair that dominated the in-cell ANN
    scoring stages.  round(..., 6) is the engine-portability contract
    the expression form used (the ann_vectorized/brute_force_topk_np
    precedent — hash-verified across rounds); vectors are dropped on
    output so only (keys, sim) flow into the downstream shuffle
    (guide §2.3 project-before-the-exchange)."""
    import numpy as np
    import pandas as pd

    in_fields = {f.name: f for f in df.schema.fields}
    schema = T.StructType([in_fields[c] for c in keep_cols]
                          + [T.StructField(out_col, T.DoubleType())])

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[a_col]])
            B = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[b_col]])
            dots = np.einsum("ij,ij->i", A, B)
            na = np.sqrt(np.einsum("ij,ij->i", A, A))
            nb = np.sqrt(np.einsum("ij,ij->i", B, B))
            out = pd.DataFrame({c: pdf[c] for c in keep_cols})
            out[out_col] = np.round(dots / (na * nb), 6)
            yield out

    return df.select(*{*keep_cols, a_col, b_col}).mapInPandas(gen, schema)


def cell_rank_np(df: DataFrame, cent_rows: list, id_col: str,
                 vec_col: str, max_rank: int,
                 keep_cols: list[str] | None = None) -> DataFrame:
    """IVF cell ranking (nearest centroids by rounded cosine, ties to
    the lower centroid id) as one Arrow/numpy pass — the expression
    form crossJoined every row with the centroid panel and ranked with
    a row_number window (a shuffle+sort of rows×centroids, each pair
    paying interpreted cosine folds).  ``cent_rows`` is the collected
    (centroid_id, vector) panel, ordered by centroid_id 0..K-1 (model
    collect — k-bounded, the pq_encode_np convention).  Output: input
    keep_cols + (centroid_id, rn) for rn = 1..max_rank; selection is
    np.argsort(-sim, stable), whose tie order IS ascending centroid
    id, matching the window's (sim DESC, centroid_id) exactly on the
    round-6 sims."""
    import numpy as np
    import pandas as pd

    keep_cols = keep_cols if keep_cols is not None else [id_col, vec_col]
    C = np.array([list(v) for _, v in
                  sorted(cent_rows, key=lambda r: r[0])], dtype=np.float64)
    cn = np.sqrt(np.einsum("ij,ij->i", C, C))

    in_fields = {f.name: f for f in df.schema.fields}
    schema = T.StructType([in_fields[c] for c in keep_cols]
                          + [T.StructField("centroid_id", T.LongType()),
                             T.StructField("rn", T.IntegerType())])

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            vn = np.sqrt(np.einsum("ij,ij->i", V, V))
            S = np.round((V @ C.T) / np.outer(vn, cn), 6)
            order = np.argsort(-S, axis=1, kind="stable")[:, :max_rank]
            n, r = order.shape
            out = pd.DataFrame(
                {c: pdf[c].iloc[np.repeat(np.arange(n), r)].to_numpy()
                 for c in keep_cols})
            out["centroid_id"] = order.ravel().astype(np.int64)
            out["rn"] = np.tile(np.arange(1, r + 1, dtype=np.int32), n)
            yield out

    return df.select(*{*keep_cols, vec_col}).mapInPandas(gen, schema)
