"""Statistical-profiling batch: pairwise correlation matrix, categorical
PMI, Zipf rank-frequency fit, and item-item cosine recommendations.
Extends the auto-profiling family (profile_histograms/_key_skew/
_entropy) with the second-moment and association layer a curation
pipeline runs before training-mix decisions.

Exactness discipline (SCALE.md): measures are quantized to their native
integer units (cents, percent points, counts); sums accumulate in
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — both exact — and are cast to
DOUBLE only for the final closed-form expression, which is the same
IEEE arithmetic in both engines.  Log-domain sums (Zipf) are quantized
per-term to micro-ints BEFORE summing, because float addition order is
not deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.graph import symmetrize
from storagetapper_spark.plans.common import (copurchase_pairs,
                                              order_baskets, t)

_MEASURES = [
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price_cents", "CAST(round(l_extendedprice * 100) AS BIGINT)"),
    ("disc_pct", "CAST(round(l_discount * 100) AS BIGINT)"),
    ("tax_pct", "CAST(round(l_tax * 100) AS BIGINT)"),
]
_PAIRS = [(a, b) for i, (a, _) in enumerate(_MEASURES)
          for (b, _) in _MEASURES[i + 1:]]


def profile_correlation_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation for every pair of lineitem measures, from ONE
    map-side-combined aggregation pass (n, Σx, Σx², Σxy for all pairs in
    a single row), then a tiny driver-free explode to 6 output rows.
    The fact table is scanned exactly once and nothing row-scaled ever
    shuffles — the profile shape that holds at 100 TB."""
    li = t(spark, sf, "lineitem").selectExpr(
        *[f"{expr} AS {name}" for name, expr in _MEASURES])
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("n")]
    for m, _ in _MEASURES:
        aggs.append(F.sum(F.col(m).cast(dec)).alias(f"s_{m}"))
        aggs.append(F.sum((F.col(m) * F.col(m)).cast(dec))
                    .alias(f"s2_{m}"))
    for a, b in _PAIRS:
        aggs.append(F.sum((F.col(a) * F.col(b)).cast(dec))
                    .alias(f"sp_{a}_{b}"))
    s = li.agg(*aggs)

    def corr(a: str, b: str):
        n = F.col("n").cast("double")
        sx = F.col(f"s_{a}").cast("double")
        sy = F.col(f"s_{b}").cast("double")
        sxy = F.col(f"sp_{a}_{b}").cast("double")
        sx2 = F.col(f"s2_{a}").cast("double")
        sy2 = F.col(f"s2_{b}").cast("double")
        return ((n * sxy - sx * sy)
                / F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)))

    cells = F.array(*[
        F.struct(F.lit(a).alias("m_a"), F.lit(b).alias("m_b"),
                 F.floor(corr(a, b) * 1000000).cast("long")
                 .alias("corr_micro"))
        for a, b in _PAIRS])
    return (s.select(F.col("n").alias("n_rows"),
                     F.explode(cells).alias("c"))
            .select(F.col("c.m_a").alias("m_a"),
                    F.col("c.m_b").alias("m_b"), "n_rows",
                    F.col("c.corr_micro").alias("corr_micro"))
            .orderBy("m_a", "m_b"))


def _corr_sql(a: str, b: str) -> str:
    return (f"CAST(floor((nd * sp_{a}_{b} - s_{a} * s_{b}) / "
            f"sqrt((nd * s2_{a} - s_{a} * s_{a}) * "
            f"(nd * s2_{b} - s_{b} * s_{b})) * 1000000) AS BIGINT)")


CORR_MATRIX_SQL = f"""
WITH m AS (
  SELECT {", ".join(f"{expr} AS {name}" for name, expr in _MEASURES)}
  FROM lineitem
),
s AS (
  SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
         {", ".join(f"CAST(sum({name}) AS DOUBLE) AS s_{name}, "
                    f"CAST(sum({name} * {name}) AS DOUBLE) AS s2_{name}"
                    for name, _ in _MEASURES)},
         {", ".join(f"CAST(sum({a} * {b}) AS DOUBLE) AS sp_{a}_{b}"
                    for a, b in _PAIRS)}
  FROM m
)
{" UNION ALL ".join(
    f"SELECT '{a}' AS m_a, '{b}' AS m_b, n AS n_rows, "
    f"{_corr_sql(a, b)} AS corr_micro FROM s"
    for a, b in _PAIRS)}
ORDER BY m_a, m_b
"""


QUERIES = {
    "profile_correlation_matrix":
        (profile_correlation_matrix, CORR_MATRIX_SQL),
}


def profile_pmi_categories(spark: SparkSession, sf: str) -> DataFrame:
    """Pointwise mutual information per (o_orderpriority, o_orderstatus)
    cell — the association profile between two categorical columns
    (positive ⇒ the combination is over-represented).  Margins come
    from window sums over the cell table (a handful of rows), so the
    fact table is aggregated once; pmi is ln of an exact integer ratio
    per cell — no cross-row float accumulation anywhere."""
    o = t(spark, sf, "orders")
    cells = (o.groupBy(F.col("o_orderpriority").alias("prio"),
                       F.col("o_orderstatus").alias("status"))
             .agg(F.count(F.lit(1)).alias("n_xy")))
    wx = Window.partitionBy("prio")
    wy = Window.partitionBy("status")
    wall = Window.partitionBy()
    enriched = cells.select(
        "prio", "status", "n_xy",
        F.sum("n_xy").over(wx).alias("n_x"),
        F.sum("n_xy").over(wy).alias("n_y"),
        F.sum("n_xy").over(wall).alias("n_tot"))
    pmi = F.log((F.col("n_xy") * F.col("n_tot")).cast("double")
                / (F.col("n_x") * F.col("n_y")).cast("double"))
    return (enriched.select(
        "prio", "status", "n_xy",
        F.floor(pmi * 1000000).cast("long").alias("pmi_micro"))
        .orderBy("prio", "status"))


PMI_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS prio, o_orderstatus AS status,
         count(*) AS n_xy
  FROM orders GROUP BY 1, 2
),
en AS (
  SELECT prio, status, n_xy,
         sum(n_xy) OVER (PARTITION BY prio) AS n_x,
         sum(n_xy) OVER (PARTITION BY status) AS n_y,
         sum(n_xy) OVER () AS n_tot
  FROM cells
)
SELECT prio, status, CAST(n_xy AS BIGINT) AS n_xy,
       CAST(floor(ln(CAST(n_xy * n_tot AS DOUBLE)
                     / CAST(n_x * n_y AS DOUBLE)) * 1000000) AS BIGINT)
         AS pmi_micro
FROM en
ORDER BY prio, status
"""


QUERIES["profile_pmi_categories"] = (profile_pmi_categories, PMI_SQL)


def text_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf fit over the corpus token frequencies: OLS slope of
    ln(freq) on ln(rank) (Zipf's law predicts ≈ −1).  Rank ties break
    lexicographically (engine-exact, as in vocab_coverage).

    Per-token log terms are quantized to micro-ints BEFORE the global
    sum — integer addition commutes, so the slope is bit-stable however
    Spark orders the partial aggregates.  The type table after the
    count is vocabulary-sized, not corpus-sized."""
    docs = t(spark, sf, "documents")
    toks = docs.select(F.explode(F.split(F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
        " +", " ")), " ")).alias("w"))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ranked = counts.select(
        "n", F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("w").asc()))
        .alias("rank"))
    q = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * 1000000)
        .alias("x"),
        F.floor(F.log(F.col("n").cast("double")) * 1000000).alias("y"))
    s = q.agg(F.count(F.lit(1)).alias("k"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sx2"))
    slope = ((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
             .cast("double")
             / (F.col("k") * F.col("sx2") - F.col("sx") * F.col("sx"))
             .cast("double"))
    return s.select(
        F.col("k").alias("vocab_size"),
        F.floor(slope * 1000000).cast("long").alias("zipf_slope_micro"))


ZIPF_SQL = """
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')), ' ')) AS w
  FROM documents
),
counts AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rank FROM counts
),
q AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT count(*) AS k,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sx2
  FROM q
)
SELECT k AS vocab_size,
       CAST(floor(CAST(k * sxy - sx * sy AS DOUBLE)
                  / CAST(k * sx2 - sx * sx AS DOUBLE)
                  * 1000000) AS BIGINT) AS zipf_slope_micro
FROM s
"""


QUERIES["text_zipf_fit"] = (text_zipf_fit, ZIPF_SQL)


_CF_TOPK = 3


def recsys_item_item_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Item-based collaborative filtering: for every part, its top-3
    co-purchase neighbors by cosine over order-occurrence vectors
    (cos = n_ab / √(n_a·n_b)).  The classic item-item CF precompute.

    Plan: one distinct (order, part) pass; pair generation is a
    self-equi-join on the order key (fan-out = basket size², bounded by
    baskets, never by catalog size — the blocked-pairs shape); margins
    broadcast from a per-part count; per-item top-k is a bounded
    window.  Cosine is an IEEE expression over exact integer counts."""
    # the ordered (pa≠pb) table is the strict pa<pb counts symmetrized
    # (n_ab is symmetric), and cnt explodes the same pinned baskets
    baskets = order_baskets(spark, sf)
    cooc = symmetrize(copurchase_pairs(baskets).filter(F.col("n_ab") >= 2),
                      "pa", "pb", "n_ab")
    cnt = (baskets.select(F.explode("ps").alias("l_partkey"))
           .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders")))
    ca = cnt.select(F.col("l_partkey").alias("ka"),
                    F.col("n_orders").alias("n_a"))
    cb = cnt.select(F.col("l_partkey").alias("kb"),
                    F.col("n_orders").alias("n_b"))
    scored = (cooc.join(F.broadcast(ca), F.col("pa") == F.col("ka"))
              .join(F.broadcast(cb), F.col("pb") == F.col("kb")))
    cos = (F.col("n_ab").cast("double")
           / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")))
    ranked = scored.select(
        "pa", "pb", "n_ab",
        F.floor(cos * 1000000).cast("long").alias("cos_micro"))
    w = Window.partitionBy("pa").orderBy(
        F.desc("cos_micro"), F.desc("n_ab"), F.asc("pb"))
    return (ranked.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _CF_TOPK)
            .select("pa", "rk", "pb", "n_ab", "cos_micro")
            .orderBy("pa", "rk"))


ITEM_CF_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cooc AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
cnt AS (SELECT l_partkey, count(*) AS n_orders FROM li GROUP BY 1),
ranked AS (
  SELECT c.pa, c.pb, c.n_ab,
         CAST(floor(CAST(c.n_ab AS DOUBLE)
                    / sqrt(CAST(ca.n_orders * cb.n_orders AS DOUBLE))
                    * 1000000) AS BIGINT) AS cos_micro
  FROM cooc c
  JOIN cnt ca ON ca.l_partkey = c.pa
  JOIN cnt cb ON cb.l_partkey = c.pb
)
SELECT pa, rk, pb, n_ab, cos_micro FROM (
  SELECT *, row_number() OVER (PARTITION BY pa
              ORDER BY cos_micro DESC, n_ab DESC, pb) AS rk
  FROM ranked
) WHERE rk <= {_CF_TOPK}
ORDER BY pa, rk
"""


QUERIES["recsys_item_item_cosine"] = (recsys_item_item_cosine, ITEM_CF_SQL)
