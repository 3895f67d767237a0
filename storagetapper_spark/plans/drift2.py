"""Drift-detection batch 2: per-feature KS drift (the nonparametric
sibling of drift_psi's binned PSI) and linear-kernel MMD on embeddings
(the moment-based sibling of embedding_drift_cells' occupancy shift).

Same exactness discipline as plans/stats.py: KS runs on per-feature
integer value grids with DECIMAL/HUGEINT cross products (one double op
per feature at the end); MMD² with a linear kernel reduces to
||μ_A − μ_B||² over exact per-dim micro sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t

_DEC = "decimal(19,0)"


def drift_ks_by_feature(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-drift suite: two-sample KS distance per numeric feature
    (quantity, price cents, discount pct) between 1995 and 1996
    shipments — the distribution-free drift monitor run next to PSI
    (drift_psi), catching shape changes PSI's fixed bins smooth over.

    One long-form stack → per-(feature, value) counts → per-feature
    cumulative window over the VALUE GRID (each feature's grid is
    type-bounded, so the window never scales with rows)."""
    li = t(spark, sf, "lineitem").filter(
        F.year("l_shipdate").isin(1995, 1996))
    long = (li.select(
        (F.year("l_shipdate") == 1995).alias("is_a"),
        F.col("l_quantity").cast("long").alias("qv"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pv"),
        F.round(F.col("l_discount") * 100).cast("long").alias("dv"))
        .selectExpr("is_a",
                    "stack(3, 'quantity', qv, 'price_cents', pv, "
                    "'discount_pct', dv) AS (feat, v)"))
    # r10 (guide §1.2): per_v is value-grid-bounded but its lineitem
    # scan+stack lineage fed two branches (tot + the cumulative
    # window), and cum feeds two more (maxd + arg) — pinning both
    # tiny aggregates keeps the fact scan to ONE evaluation.
    per_v = pin(long.groupBy("feat", "v")
                .agg(F.sum(F.when(F.col("is_a"), 1).otherwise(0))
                     .alias("c_a"),
                     F.sum(F.when(F.col("is_a"), 0).otherwise(1))
                     .alias("c_b")))
    tot = per_v.groupBy("feat").agg(F.sum("c_a").alias("n_a"),
                                    F.sum("c_b").alias("n_b"))
    w = (Window.partitionBy("feat").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = pin(per_v.select(
           "feat", "v",
           F.sum("c_a").over(w).alias("cum_a"),
           F.sum("c_b").over(w).alias("cum_b"))
           .join(F.broadcast(tot), "feat")
           .select("feat", "v", "n_a", "n_b",
                   F.abs(F.col("cum_a").cast(_DEC) * F.col("n_b").cast(_DEC)
                         - F.col("cum_b").cast(_DEC)
                         * F.col("n_a").cast(_DEC)).alias("diff")))
    maxd = cum.groupBy("feat").agg(F.max("diff").alias("maxd"))
    arg = (cum.join(F.broadcast(maxd), "feat")
           .filter(F.col("diff") == F.col("maxd"))
           .groupBy("feat", "n_a", "n_b", "maxd")
           .agg(F.min("v").alias("at_value")))
    ks = F.floor(F.col("maxd").cast("double") * 1000000.0
                 / (F.col("n_a").cast("double")
                    * F.col("n_b").cast("double"))).cast("long")
    return (arg.select("feat", "n_a", "n_b", ks.alias("ks_d_micro"),
                       "at_value")
            .orderBy("feat"))


DRIFT_KS_SQL = """
WITH long AS (
  SELECT year(l_shipdate) = 1995 AS is_a, 'quantity' AS feat,
         CAST(l_quantity AS BIGINT) AS v
  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
  UNION ALL
  SELECT year(l_shipdate) = 1995, 'price_cents',
         CAST(round(l_extendedprice * 100) AS BIGINT)
  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
  UNION ALL
  SELECT year(l_shipdate) = 1995, 'discount_pct',
         CAST(round(l_discount * 100) AS BIGINT)
  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
),
per_v AS (
  SELECT feat, v,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS c_b
  FROM long GROUP BY 1, 2
),
tot AS (SELECT feat, sum(c_a) AS n_a, sum(c_b) AS n_b
        FROM per_v GROUP BY 1),
cum AS (
  SELECT p.feat, p.v, t.n_a, t.n_b,
         abs(CAST(sum(c_a) OVER w AS HUGEINT) * CAST(t.n_b AS HUGEINT)
             - CAST(sum(c_b) OVER w AS HUGEINT)
               * CAST(t.n_a AS HUGEINT)) AS diff
  FROM per_v p JOIN tot t USING (feat)
  WINDOW w AS (PARTITION BY p.feat ORDER BY p.v
               ROWS UNBOUNDED PRECEDING)
),
m AS (SELECT feat, max(diff) AS maxd FROM cum GROUP BY feat)
SELECT c.feat, CAST(c.n_a AS BIGINT) AS n_a,
       CAST(c.n_b AS BIGINT) AS n_b,
       CAST(floor(CAST(m.maxd AS DOUBLE) * 1000000.0
                  / (CAST(c.n_a AS DOUBLE) * CAST(c.n_b AS DOUBLE)))
            AS BIGINT) AS ks_d_micro,
       min(c.v) AS at_value
FROM cum c JOIN m ON m.feat = c.feat AND c.diff = m.maxd
GROUP BY c.feat, c.n_a, c.n_b, m.maxd
ORDER BY c.feat
"""


def embedding_drift_mmd_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-kernel MMD² between embedding populations of label 0 vs
    label 1: with k(x,y)=x·y, MMD² = ||μ_A − μ_B||² — the moment-based
    drift score next to embedding_drift_cells' occupancy test.

    Per-dim micro-int sums (exact) → per-dim mean-difference micros
    (one double each, floored) → exact integer sum of squares, so the
    score is order-independent; 64 rows cross the final agg."""
    emb = t(spark, sf, "embeddings")
    dims = emb.select(
        (F.col("label") == 0).alias("is_a"),
        F.posexplode(F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000000).cast("long")))
        .alias("j", "x"))
    per_dim = (dims.groupBy("j")
               .agg(F.sum(F.when(F.col("is_a"), F.col("x"))
                          .otherwise(0)).alias("sa"),
                    F.sum(F.when(F.col("is_a"), 1).otherwise(0))
                    .alias("na"),
                    F.sum(F.when(F.col("is_a"), 0)
                          .otherwise(F.col("x"))).alias("sb"),
                    F.sum(F.when(F.col("is_a"), 0).otherwise(1))
                    .alias("nb")))
    dmic = F.floor(F.col("sa").cast("double") / F.col("na").cast("double")
                   - F.col("sb").cast("double")
                   / F.col("nb").cast("double")).cast("long")
    terms = per_dim.select("na", "nb", dmic.alias("d"))
    return (terms.groupBy("na", "nb")
            .agg(F.count(F.lit(1)).alias("n_dims"),
                 F.sum(F.col("d") * F.col("d")).alias("mmd2_micro2"))
            .select(F.col("na").alias("n_label0"),
                    F.col("nb").alias("n_label1"), "n_dims",
                    "mmd2_micro2"))


MMD_SQL = """
WITH dims AS (
  SELECT label = 0 AS is_a, jj.range AS j,
         CAST(floor(CAST(embedding[CAST(jj.range AS INTEGER) + 1]
                         AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM embeddings CROSS JOIN range(64) jj
),
per_dim AS (
  SELECT j,
         CAST(sum(CASE WHEN is_a THEN x ELSE 0 END) AS BIGINT) AS sa,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE x END) AS BIGINT) AS sb,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS nb
  FROM dims GROUP BY j
),
terms AS (
  SELECT na, nb,
         CAST(floor(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
              AS BIGINT) AS d
  FROM per_dim
)
SELECT CAST(na AS BIGINT) AS n_label0, CAST(nb AS BIGINT) AS n_label1,
       count(*) AS n_dims,
       CAST(sum(d * d) AS BIGINT) AS mmd2_micro2
FROM terms GROUP BY na, nb
"""


QUERIES = {
    "drift_ks_by_feature": (drift_ks_by_feature, DRIFT_KS_SQL),
    "embedding_drift_mmd_linear": (embedding_drift_mmd_linear, MMD_SQL),
}
