"""In-engine PCA: top principal component of the embedding table by
distributed power iteration.

Follows the quantized-generation discipline of ml_logistic_gd /
tokenizer_bpe_train (plans/ml.py): components are micro-int quantized,
means are floored micro-ints, and every cross-row sum is EXACT integer
arithmetic — so each generation is bit-identical between Spark and the
unrolled DuckDB oracle, and the per-row reduction order can never leak
into the result.  Doubles appear only in the per-generation
normalization (sqrt + one division), computed from exact integers with
the identical expression on both engines.

Scale shape (100 TB): each iteration is
  (1) one narrow map pass computing s_i = c_i · v (v broadcast as a
      64-element literal — the model ships to executors, never rows to
      the driver), then
  (2) one 64-key aggregation y_j = Σ_i s_i c_ij with map-side partial
      aggregation (the shuffle carries 64 rows per task).
Driver traffic is 64 integers per generation — the same "weights cross
the driver between rounds" contract as distributed full-batch GD.
Integer headroom: |x| ≤ ~10 ⇒ cq ≤ 1e7 µ; s' ≤ 64·cq ≈ 6.4e8;
y_j ≤ n_rows·s'·cq ≈ n_rows·6.4e15/1e9 — exact in int64 to ~1e9 rows;
past that move the y sums to DECIMAL(38,0)/HUGEINT (the oracle already
sums in HUGEINT).  Documented rather than silently lossy.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin, release
from storagetapper_spark.plans.common import t

_DIM = 64          # fixture embedding dimension
_ITERS = 3         # unrolled in the oracle; enough on a spiked spectrum
_V0 = 125000       # 1/sqrt(64) = 0.125 exactly, in micro units


def _quantized(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000000).cast("long"))
        .alias("xq"))


def _centered(spark: SparkSession, sf: str):
    """Mean-centered micro-quantized embeddings + the (collected,
    64-value — bounded driver traffic) floored micro means."""
    xq = _quantized(spark, sf)
    mrows = (xq.select(F.posexplode("xq").alias("j", "x"))
             .groupBy("j")
             .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
             .select("j", F.floor(F.col("s") / F.col("n")).cast("long")
                     .alias("m"))
             .orderBy("j").collect())
    m = [int(r.m) for r in mrows]
    assert len(m) == _DIM, f"expected {_DIM}-dim embeddings"
    m_arr = F.array(*[F.lit(v) for v in m])
    cq = xq.select(
        "vec_id",
        F.zip_with("xq", m_arr, lambda x, mm: x - mm).alias("cq"))
    return cq, m


def embedding_pca_power_iteration(spark: SparkSession, sf: str) -> DataFrame:
    """Three distributed power-iteration rounds over mean-centered
    micro-quantized embeddings: 64 micro-int loadings, per-dim means,
    and the norm-growth share ||S·v||/trace of the final iterate —
    monotone non-decreasing in the round count (log-convexity of
    k ↦ ||Sᵏx||) and ≤ λ₁/trace, so it is a certified lower-bound
    estimate of the top explained-variance share.

    Convergence honesty: k rounds contract the off-top components by
    (λ₂/λ₁)^k, and the FIXTURE spectrum is deliberately flat (top share
    2.9%, λ₂/λ₁ ≈ 0.93 — measured in test_pca.py), so 3 rounds
    demonstrate the ITERATION (each round provably raises the Rayleigh
    quotient; the test asserts monotonicity), not a converged PC1.  On
    the spiked spectra real embedding models produce, λ₂/λ₁ ~ 0.3-0.6
    and the same 3-5 rounds converge.  For a spectrum-independent exact
    answer at any scale, pair embedding_scatter_matrix (one-pass 64×64
    reduction) with a driver-side eigh — the standard tall-skinny PCA
    split."""
    cq, m = _centered(spark, sf)
    cq = pin(cq)  # the trace and every round read it

    trace = int(cq.select(
        F.aggregate(F.transform("cq", lambda c: c * c),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("t2"))
        .agg(F.sum("t2").alias("tr")).collect()[0].tr)

    v = [_V0] * _DIM
    norm = 0.0
    for _ in range(_ITERS):
        v_arr = F.array(*[F.lit(int(x)) for x in v])
        s = F.aggregate(
            F.zip_with("cq", v_arr, lambda c, vv: c * vv),
            F.lit(0).cast("long"), lambda a, x: a + x)
        yrows = (cq.select(
            F.floor(s / F.lit(1000000.0)).cast("long").alias("sp"),
            "cq")
            .select("sp", F.posexplode("cq").alias("j", "c"))
            .groupBy("j")
            .agg(F.sum(F.col("sp") * F.col("c")).alias("y"))
            .orderBy("j").collect())
        y = [int(r.y) for r in yrows]
        norm2 = sum(yy * yy for yy in y)      # exact (Python bigint)
        norm = math.sqrt(float(norm2))
        # identical expression to the oracle: double(y)/norm*1e6, floored
        v = [math.floor(float(yy) / norm * 1000000.0) for yy in y]
    release(cq)

    growth_share_micro = math.floor(norm / float(trace) * 1000000.0)
    rows = [(j, m[j], v[j], growth_share_micro) for j in range(_DIM)]
    return spark.createDataFrame(
        rows, "dim bigint, mean_micro bigint, v_micro bigint, "
              "growth_share_micro bigint")


def _iter_sql(i: int, prev_v: str) -> str:
    return f"""
s{i} AS (
  SELECT vec_id,
         CAST(floor(CAST(sum(c.c * {prev_v}.v) AS DOUBLE) / 1000000.0)
              AS BIGINT) AS sp
  FROM c JOIN {prev_v} USING (j) GROUP BY vec_id
),
y{i} AS (
  SELECT c.j, CAST(sum(s{i}.sp * c.c) AS BIGINT) AS y
  FROM c JOIN s{i} USING (vec_id) GROUP BY c.j
),
n{i} AS (
  SELECT sqrt(CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE)) AS nrm
  FROM y{i}
),
v{i} AS (
  SELECT j, CAST(floor(CAST(y AS DOUBLE) / nrm * 1000000.0) AS BIGINT)
           AS v
  FROM y{i} CROSS JOIN n{i}
)"""


PCA_SQL = f"""
WITH xq AS (
  SELECT vec_id, jj.range AS j,
         CAST(floor(CAST(embedding[CAST(jj.range AS INTEGER) + 1]
                         AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM embeddings CROSS JOIN range({_DIM}) jj
),
m AS (
  SELECT j, CAST(floor(sum(x) / count(*)) AS BIGINT) AS m
  FROM xq GROUP BY j
),
c AS (
  SELECT vec_id, xq.j, x - m.m AS c FROM xq JOIN m USING (j)
),
tr AS (SELECT sum(CAST(c AS HUGEINT) * c) AS trace FROM c),
v0 AS (SELECT jj.range AS j, {_V0} AS v FROM range({_DIM}) jj),
{",".join(_iter_sql(i + 1, f"v{i}") for i in range(_ITERS))}
SELECT m.j AS dim, m.m AS mean_micro, v{_ITERS}.v AS v_micro,
       CAST(floor(n{_ITERS}.nrm / CAST(tr.trace AS DOUBLE) * 1000000.0)
            AS BIGINT) AS growth_share_micro
FROM m JOIN v{_ITERS} USING (j) CROSS JOIN n{_ITERS} CROSS JOIN tr
ORDER BY dim
"""


def embedding_scatter_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 64×64 scatter matrix (upper triangle, 2080 rows) of the
    mean-centered micro-quantized embeddings — the ONE-PASS reduction
    that makes PCA exact at any scale: ship S to the driver (2080
    integers) and eigh a 64×64 there; no iteration, no spectrum
    dependence (the tall-skinny PCA split; test_pca.py does the eigh
    and checks the top share).

    Per Arrow batch a numpy int64 GEMM computes the partial Cᵀ·C — the
    blocked-cosine discipline (never expand 2080 pair terms per ROW;
    expand 2080 partials per BATCH), so the shuffle carries 2080 rows
    per batch regardless of data size.  int64 exactness: |c| ≤ 1e7 µ ⇒
    per-batch sums ≤ 1e14·batch_rows — exact to ~10⁴-row batches even
    at the ±10 σ corner, and Arrow batches default to 10k rows."""
    import pandas as pd

    cq, _m = _centered(spark, sf)

    def gemm(batches):
        import numpy as np

        iu = np.triu_indices(_DIM)
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["cq"].to_numpy()).astype("int64")
            s = c.T @ c          # exact int64 (headroom per docstring)
            yield pd.DataFrame({"j": iu[0].astype("int64"),
                                "k": iu[1].astype("int64"),
                                "s": s[iu]})

    part = cq.select("cq").mapInPandas(gemm, "j long, k long, s long")
    return (part.groupBy("j", "k").agg(F.sum("s").alias("s_jk"))
            .orderBy("j", "k"))


SCATTER_SQL = f"""
WITH xq AS (
  SELECT vec_id, jj.range AS j,
         CAST(floor(CAST(embedding[CAST(jj.range AS INTEGER) + 1]
                         AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM embeddings CROSS JOIN range({_DIM}) jj
),
m AS (
  SELECT j, CAST(floor(sum(x) / count(*)) AS BIGINT) AS m
  FROM xq GROUP BY j
),
c AS (
  SELECT vec_id, xq.j, x - m.m AS c FROM xq JOIN m USING (j)
)
SELECT a.j AS j, b.j AS k,
       CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS s_jk
FROM c a JOIN c b ON a.vec_id = b.vec_id AND b.j >= a.j
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES = {
    "embedding_pca_power_iteration":
        (embedding_pca_power_iteration, PCA_SQL),
    "embedding_scatter_matrix":
        (embedding_scatter_matrix, SCATTER_SQL),
}
