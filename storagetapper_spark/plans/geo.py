"""Spatial batch: grid-blocked radius joins over planar points — the
missing geometry family.  No geo columns exist in the fixtures, so
points derive DETERMINISTICALLY from customer keys via the registry's
md5 idiom (engine-portable; the oracle replays the same derivation) —
the spatial OPERATORS are the product, the coordinates are scaffolding
(same stance as multimodal_ahash_neardup's fake-decode pixels).

Scale shape (100 TB): the canonical uniform-grid spatial join — each
point lands in ONE home cell (cell edge = eps, so any within-eps pair
is in adjacent cells); the probe side explodes to its 3x3 cell
neighborhood and the join is a plain hash join on cell id.  Candidate
volume is density-bounded (9 x avg cell occupancy per point), never
all-pairs; a hot cell (skewed density) salts like any skewed hash key
(operators/skew.py).  Distances are exact integer centi-unit
arithmetic — no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t

_EPS = 20000          # radius in centi-units (plane is [0, 1e6)^2)
_MIN_PTS = 4          # DBSCAN core threshold (neighbors excl. self)
_TOPK = 50


def _points(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic planar points: two md5-derived 32-bit uniforms per
    customer, reduced mod 1e6 → integer centi-unit coordinates."""
    c = t(spark, sf, "customer").select(F.col("c_custkey").alias("id"))
    coord = [
        (F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.lit(axis), F.col("id").cast("string"))), 1, 8),
            16, 10).cast("long") % 1000000).alias(axis)
        for axis in ("x", "y")]
    return c.select("id", *coord)


_POINTS_SQL = """
points AS (
  SELECT c_custkey AS id,
         CAST(('0x' || substring(md5('x:' || CAST(c_custkey AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 1000000 AS x,
         CAST(('0x' || substring(md5('y:' || CAST(c_custkey AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 1000000 AS y
  FROM customer)
"""


def _grid_pairs(pts: DataFrame) -> DataFrame:
    """All candidate point pairs from the 3x3-neighborhood grid join
    (directed: every (a, b), a != b, within adjacent cells appears
    exactly once — b's home cell is unique, a probes 9 cells)."""
    home = pts.select(
        F.col("id").alias("id_b"), F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.floor(F.col("x") / _EPS).alias("cx"),
        F.floor(F.col("y") / _EPS).alias("cy"))
    probe = (pts.select(
        F.col("id").alias("id_a"), F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        F.floor(F.col("x") / _EPS).alias("hx"),
        F.floor(F.col("y") / _EPS).alias("hy"))
        .select("id_a", "xa", "ya", "hy",
                (F.col("hx") + F.col("dx")).alias("cx"),
                F.explode(F.expr("array(-1, 0, 1)")).alias("dy"))
        .select("id_a", "xa", "ya", "cx",
                (F.col("hy") + F.col("dy")).alias("cy")))
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    return (probe.join(home, ["cx", "cy"])
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b", d2.alias("d2")))


def geo_grid_neighbors(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 closest point pairs within eps — the radius-join /
    closest-pairs primitive.  Undirected pairs (id_a < id_b keeps each
    candidate exactly once), exact integer squared distances, grid-
    blocked candidates only."""
    pts = _points(spark, sf)
    pairs = (_grid_pairs(pts)
             .filter((F.col("id_a") < F.col("id_b"))
                     & (F.col("d2") <= _EPS * _EPS)))
    return (pairs.orderBy("d2", "id_a", "id_b")
            .limit(_TOPK)
            .select("id_a", "id_b", F.col("d2").alias("dist2")))


GRID_NEIGHBORS_SQL = f"""
WITH {_POINTS_SQL},
home AS (
  SELECT id AS id_b, x AS xb, y AS yb,
         CAST(floor(x / {_EPS}) AS BIGINT) AS cx,
         CAST(floor(y / {_EPS}) AS BIGINT) AS cy
  FROM points),
probe AS (
  SELECT id AS id_a, x AS xa, y AS ya,
         CAST(floor(x / {_EPS}) AS BIGINT) + dxy.dx AS cx,
         CAST(floor(y / {_EPS}) AS BIGINT) + dxy.dy AS cy
  FROM points
  CROSS JOIN (SELECT dx.d AS dx, dy.d AS dy
              FROM (VALUES (-1), (0), (1)) dx(d),
                   (VALUES (-1), (0), (1)) dy(d)) dxy),
pairs AS (
  SELECT id_a, id_b,
         (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) AS d2
  FROM probe JOIN home USING (cx, cy)
  WHERE id_a < id_b)
SELECT id_a, id_b, d2 AS dist2
FROM pairs
WHERE d2 <= {_EPS * _EPS}
ORDER BY d2, id_a, id_b
LIMIT {_TOPK}
"""


def geo_dbscan_core(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN point classification (eps = {0.02 of the plane},
    minPts = 4): CORE points have >= minPts neighbors within eps,
    BORDER points are non-core within eps of a core, the rest is
    NOISE.  Two grid-join passes — neighbor counting, then
    border-to-core attachment (both density-bounded); the full
    cluster expansion is the connected-components primitive
    (operators/dedup.py) over the core-core within-eps edges and is
    deliberately out of scope here (this query is the per-point
    classifier every DBSCAN run starts with)."""
    pts = _points(spark, sf)
    # one grid join, pinned: the degree pass and the border pass
    # both consume it without recomputing the 3x3 probe explode
    within = pin(_grid_pairs(pts).filter(F.col("d2") <= _EPS * _EPS)
                 .select("id_a", "id_b"))
    deg = (pts.join(within.groupBy("id_a")
                    .agg(F.count(F.lit(1)).alias("n_nb"))
                    .withColumnRenamed("id_a", "id"), "id", "left")
           .select("id", F.coalesce("n_nb", F.lit(0)).alias("n_nb")))
    core = deg.filter(F.col("n_nb") >= _MIN_PTS).select("id")
    near_core = (within
                 .join(core.withColumnRenamed("id", "id_b"), "id_b")
                 .select(F.col("id_a").alias("id")).distinct()
                 .withColumn("is_near_core", F.lit(1)))
    flagged = (deg.join(near_core, "id", "left")
               .select((F.col("n_nb") >= _MIN_PTS).cast("long")
                       .alias("is_core"),
                       F.coalesce("is_near_core", F.lit(0))
                       .alias("is_near_core")))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("is_core").alias("n_core"),
        F.sum(F.when((F.col("is_core") == 0)
                     & (F.col("is_near_core") == 1), 1).otherwise(0))
        .alias("n_border"),
        F.sum(F.when((F.col("is_core") == 0)
                     & (F.col("is_near_core") == 0), 1).otherwise(0))
        .alias("n_noise"))


DBSCAN_SQL = f"""
WITH {_POINTS_SQL},
home AS (
  SELECT id AS id_b, x AS xb, y AS yb,
         CAST(floor(x / {_EPS}) AS BIGINT) AS cx,
         CAST(floor(y / {_EPS}) AS BIGINT) AS cy
  FROM points),
probe AS (
  SELECT id AS id_a, x AS xa, y AS ya,
         CAST(floor(x / {_EPS}) AS BIGINT) + dxy.dx AS cx,
         CAST(floor(y / {_EPS}) AS BIGINT) + dxy.dy AS cy
  FROM points
  CROSS JOIN (SELECT dx.d AS dx, dy.d AS dy
              FROM (VALUES (-1), (0), (1)) dx(d),
                   (VALUES (-1), (0), (1)) dy(d)) dxy),
within AS (
  SELECT id_a, id_b
  FROM probe JOIN home USING (cx, cy)
  WHERE id_a <> id_b
    AND (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
        <= {_EPS * _EPS}),
deg AS (
  SELECT p.id, count(w.id_b) AS n_nb
  FROM points p LEFT JOIN within w ON w.id_a = p.id
  GROUP BY p.id),
core AS (SELECT id FROM deg WHERE n_nb >= {_MIN_PTS}),
border AS (
  SELECT DISTINCT w.id_a AS id
  FROM within w JOIN core cb ON w.id_b = cb.id
  WHERE w.id_a NOT IN (SELECT id FROM core))
SELECT (SELECT count(*) FROM deg) AS n_points,
       (SELECT count(*) FROM core) AS n_core,
       (SELECT count(*) FROM border) AS n_border,
       (SELECT count(*) FROM deg) - (SELECT count(*) FROM core)
         - (SELECT count(*) FROM border) AS n_noise
"""


QUERIES = {
    "geo_grid_neighbors": (geo_grid_neighbors, GRID_NEIGHBORS_SQL),
    "geo_dbscan_core": (geo_dbscan_core, DBSCAN_SQL),
}
