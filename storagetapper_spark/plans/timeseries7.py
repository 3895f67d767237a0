"""Holt-Winters additive (triple exponential smoothing) per entity —
the seasonality-aware upgrade of ``forecast_holt`` (level+trend only):
weekly-seasonal order-volume forecasting per nation.

Cross-engine exactness without quantizing intermediates: the recursion
is SEQUENTIAL per series, and both engines execute the IDENTICAL
IEEE-double expression sequence (dyadic smoothing constants 1/2, 1/4;
same association order in the Python loop and the recursive-CTE arms),
so level/trend/seasonals are bit-identical — only the OUTPUTS are
floored to micro units.  The same discipline as the EWMA family's
bit-exact dyadic oracle (timeseries.py).

100 TB shape: the heavy part (raw orders -> per-nation daily counts)
is a distributed aggregate; the recursion itself is CALENDAR-bounded
(~2.5k steps regardless of data volume) and embarrassingly parallel
across entities via applyInPandas — the standard shape for per-entity
forecasting at fleet scale (one bounded series per group, never a
global sequential pass over raw rows).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t

_M = 7          # weekly season
_ALPHA = 0.5    # dyadic smoothing constants: exact binary doubles
_BETA = 0.25
_GAMMA = 0.25

_HW_SCHEMA = ("n_name string, n_days long, level_micro long, "
              "trend_micro long, "
              + ", ".join(f"f{h} long" for h in range(1, _M + 1)))


def _hw_kernel(pdf):
    """One nation's series: the literal HW-additive recursion.  Python
    floats ARE IEEE doubles; the expression order below is mirrored
    token-for-token by the oracle's recursive CTE."""
    import pandas as pd

    pdf = pdf.sort_values("t")
    y = pdf["y"].astype("float64").tolist()
    n = len(y)
    lvl = (y[0] + y[1] + y[2] + y[3] + y[4] + y[5] + y[6]) / 7.0
    tr = 0.0
    s = [y[i] - lvl for i in range(_M)]
    for i in range(_M, n):
        yv = y[i]
        lvl_new = _ALPHA * (yv - s[0]) + (1.0 - _ALPHA) * (lvl + tr)
        tr = _BETA * (lvl_new - lvl) + (1.0 - _BETA) * tr
        snew = _GAMMA * (yv - lvl_new) + (1.0 - _GAMMA) * s[0]
        s = s[1:] + [snew]
        lvl = lvl_new
    fs = [math.floor((lvl + float(h) * tr + s[h - 1]) * 1e6)
          for h in range(1, _M + 1)]
    return pd.DataFrame(
        [[pdf["n_name"].iloc[0], n, math.floor(lvl * 1e6),
          math.floor(tr * 1e6), *fs]],
        columns=["n_name", "n_days", "level_micro", "trend_micro",
                 *[f"f{h}" for h in range(1, _M + 1)]])


def ts_holt_winters_additive(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    base = (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("n_name", F.col("o_orderdate").cast("date")
                    .alias("day")))
    # r10 (guide §5): cnt feeds bounds AND the dense left join — pin
    # the tiny (nation, day) grid so the orders⨝customer join runs once.
    cnt = pin(base.groupBy("n_name", "day")
              .agg(F.count(F.lit(1)).cast("double").alias("y")))
    bounds = cnt.groupBy("n_name").agg(F.min("day").alias("d0"),
                                       F.max("day").alias("d1"))
    cal = bounds.select(
        "n_name", "d0",
        F.explode(F.sequence("d0", "d1")).alias("day"))
    dense = (cal.join(cnt, ["n_name", "day"], "left")
             .na.fill({"y": 0.0})
             .select("n_name", F.datediff("day", "d0").alias("t"), "y"))
    return (dense.groupBy("n_name").applyInPandas(_hw_kernel, _HW_SCHEMA)
            .orderBy("n_name"))


def _hw_sql() -> str:
    m = _M
    init_s = ", ".join(f"ys[{i}] - lvl0" for i in range(1, m + 1))
    fcols = ",\n       ".join(
        f"CAST(floor((f.lvl + {h}.0 * f.tr + f.s[{h}]) * 1e6) AS BIGINT)"
        f" AS f{h}" for h in range(1, m + 1))
    return f"""
WITH RECURSIVE
base AS MATERIALIZED (
  SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey),
cnt AS MATERIALIZED (SELECT n_name, day, CAST(count(*) AS DOUBLE) AS y
        FROM base GROUP BY 1, 2),
bounds AS MATERIALIZED (SELECT n_name, min(day) AS d0, max(day) AS d1
           FROM cnt GROUP BY 1),
cal AS MATERIALIZED (
  SELECT b.n_name, b.d0,
         CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM bounds b),
dense AS MATERIALIZED (
  SELECT c.n_name, datediff('day', c.d0, c.day) AS t,
         COALESCE(k.y, 0.0) AS y
  FROM cal c LEFT JOIN cnt k ON k.n_name = c.n_name AND k.day = c.day),
series AS MATERIALIZED (
  SELECT n_name, list(y ORDER BY t) AS ys, count(*) AS n_days
  FROM dense GROUP BY 1),
init AS MATERIALIZED (
  SELECT n_name, ys, n_days,
         (ys[1] + ys[2] + ys[3] + ys[4] + ys[5] + ys[6] + ys[7]) / 7.0
           AS lvl0
  FROM series),
rec(t, n_name, lvl, tr, s) AS (
  -- the anchor fixes the recursive column TYPES: a bare 0.0 would
  -- type tr as DECIMAL(2,1) and quantize every trend update
  SELECT {m - 1}, n_name, lvl0, CAST(0.0 AS DOUBLE), [{init_s}]
  FROM init
  UNION ALL
  -- advance via the per-day row (joining init's full ys list per
  -- level re-copies a 2.4k-element list per row per step — measured
  -- ~8x slower)
  SELECT q.t, q.n_name, q.lvl_new,
         {_BETA} * (q.lvl_new - q.lvl) + {1.0 - _BETA} * q.tr,
         q.s[2:{m}] || [{_GAMMA} * (q.y - q.lvl_new)
                        + {1.0 - _GAMMA} * q.s[1]]
  FROM (
    SELECT r.t + 1 AS t, r.n_name, r.lvl, r.tr, r.s, d.y,
           {_ALPHA} * (d.y - r.s[1])
             + {1.0 - _ALPHA} * (r.lvl + r.tr) AS lvl_new
    FROM rec r JOIN dense d ON d.n_name = r.n_name AND d.t = r.t + 1
  ) q),
fin AS (
  SELECT r.* FROM rec r JOIN series s
    ON s.n_name = r.n_name AND r.t = s.n_days - 1)
SELECT f.n_name, CAST(s.n_days AS BIGINT) AS n_days,
       CAST(floor(f.lvl * 1e6) AS BIGINT) AS level_micro,
       CAST(floor(f.tr * 1e6) AS BIGINT) AS trend_micro,
       {fcols}
FROM fin f JOIN series s USING (n_name)
ORDER BY f.n_name
"""


QUERIES = {
    "ts_holt_winters_additive": (ts_holt_winters_additive, _hw_sql()),
}
