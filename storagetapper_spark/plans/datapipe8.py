"""Batch: portable theta-sketch set intersection, threshold ANN range
search, hourly activity heatmap, and iterative k-core decomposition.

- The theta/KMV sketch extends the mergeable-sketch story
  (sketch_hll_union, approx_distinct) with the op HLL cannot do:
  INTERSECTION estimation between partitions' sketches — here fully
  engine-portable (salted-md5 KMV, exact integer hash space) so the
  oracle checks the estimator itself, not just self-consistency.
- Range search is the threshold twin of the top-k ANN family.
- k-core is the iterative-fixpoint operator pattern (peeling), with an
  UNROLLED-round oracle: both engines run the identical bounded round
  count, so the hash matches even mid-convergence (proven converged at
  the tested SFs — round-to-round deltas hit zero well before the cap).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.graph import iterate, pin
from storagetapper_spark.plans.common import t
from storagetapper_spark.plans.graph2 import _EDGE_SQL, _adj, _edges

_K = 32                    # KMV sketch size
_HSPACE = float(1 << 60)   # md5-15-hex hash space (16^15), exact double


def sketch_theta_intersection(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-user INTERSECTION between every event-type pair, via
    portable KMV/theta sketches (k=32 smallest salted-md5 hashes per
    type) next to the exact answer.  The sketch union/intersection runs
    on k·|types| rows — the mergeable-rollup shape: at 100 TB each
    partition ships 32 longs, never its user set.  Estimator:
    θ = min(θ_a, θ_b); est = |A_k ∩ B_k ∩ [0,θ)| · 2⁶⁰ / θ — every
    input exact BIGINT, one IEEE division at the end."""
    ev = t(spark, sf, "events")
    h = (ev.select("event_type",
                   F.conv(F.substring(F.md5(F.col("user_id")
                                            .cast("string")), 1, 15),
                          16, 10).cast("long").alias("hv"))
         .distinct())
    rk = Window.partitionBy("event_type").orderBy("hv")
    sk = (h.select("event_type", "hv",
                   F.row_number().over(rk).alias("r"))
          .filter(F.col("r") <= _K))
    theta = (sk.groupBy("event_type")
             .agg(F.max("hv").alias("th"), F.count(F.lit(1)).alias("kn")))
    a = sk.select(F.col("event_type").alias("s1"), "hv")
    b = sk.select(F.col("event_type").alias("s2"),
                  F.col("hv").alias("hv2"))
    ta = theta.select(F.col("event_type").alias("s1"),
                      F.col("th").alias("th1"))
    tb = theta.select(F.col("event_type").alias("s2"),
                      F.col("th").alias("th2"))
    shared = (a.join(b, (F.col("hv") == F.col("hv2"))
                     & (F.col("s1") < F.col("s2")))
              .join(F.broadcast(ta), "s1").join(F.broadcast(tb), "s2")
              .filter(F.col("hv") < F.least("th1", "th2"))
              .groupBy("s1", "s2", "th1", "th2")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    est = F.floor(F.col("n_shared").cast("double") * F.lit(_HSPACE)
                  / F.least("th1", "th2").cast("double")).cast("long")
    exact_u = ev.select("event_type", "user_id").distinct()
    ua = exact_u.select(F.col("event_type").alias("s1"), "user_id")
    ub = exact_u.select(F.col("event_type").alias("s2"),
                        F.col("user_id").alias("u2"))
    exact = (ua.join(ub, (F.col("user_id") == F.col("u2"))
                     & (F.col("s1") < F.col("s2")))
             .groupBy("s1", "s2")
             .agg(F.count(F.lit(1)).alias("exact_inter")))
    return (shared.join(exact, ["s1", "s2"], "full")
            .select("s1", "s2",
                    F.coalesce("exact_inter", F.lit(0))
                    .alias("exact_inter"),
                    F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
                    F.coalesce(est, F.lit(0)).alias("est_inter"))
            .orderBy("s1", "s2"))


_HV = ("CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) "
       "AS BIGINT)")

THETA_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type, {_HV} AS hv FROM events
),
sk AS (
  SELECT event_type, hv FROM (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
    FROM h
  ) WHERE r <= {_K}
),
theta AS (
  SELECT event_type, max(hv) AS th FROM sk GROUP BY 1
),
shared AS (
  SELECT a.event_type AS s1, b.event_type AS s2, ta.th AS th1,
         tb.th AS th2, count(*) AS n_shared
  FROM sk a JOIN sk b ON a.hv = b.hv AND a.event_type < b.event_type
  JOIN theta ta ON ta.event_type = a.event_type
  JOIN theta tb ON tb.event_type = b.event_type
  WHERE a.hv < least(ta.th, tb.th)
  GROUP BY 1, 2, 3, 4
),
exact AS (
  SELECT a.event_type AS s1, b.event_type AS s2,
         count(*) AS exact_inter
  FROM (SELECT DISTINCT event_type, user_id FROM events) a
  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT COALESCE(s.s1, e.s1) AS s1, COALESCE(s.s2, e.s2) AS s2,
       CAST(COALESCE(e.exact_inter, 0) AS BIGINT) AS exact_inter,
       CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(COALESCE(floor(CAST(s.n_shared AS DOUBLE) * {_HSPACE!r}
                           / CAST(least(s.th1, s.th2) AS DOUBLE)), 0)
            AS BIGINT) AS est_inter
FROM shared s FULL JOIN exact e ON e.s1 = s.s1 AND e.s2 = s.s2
ORDER BY s1, s2
"""


QUERIES = {
    "sketch_theta_intersection":
        (sketch_theta_intersection, THETA_SQL),
}


_RANGE_THR = 0.3
_RANGE_NQ = 10


def ann_range_search(spark: SparkSession, sf: str) -> DataFrame:
    """Threshold (range) similarity search: all corpus vectors with
    cosine ≥ 0.3 against each of 10 query vectors — the dedup-style
    twin of top-k ANN (ann_brute_force shares the cosine convention).

    Scale shape: the scan is O(n·q) compute but EMITS only matches, so
    the shuffle is bounded by the result, not the score matrix; the
    broadcast side is the query set.  The IVF-pruned variant (skip
    cells whose centroid bound can't reach the threshold) slots in via
    operators/similarity.ivf_topk's cell machinery when q grows."""
    emb = t(spark, sf, "embeddings")
    q = (emb.filter(F.col("vec_id") < _RANGE_NQ)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    c = (emb.filter(F.col("vec_id") >= _RANGE_NQ)
         .select("vec_id", "embedding"))
    dot = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"),
                   F.col("qv").cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)
    nc = F.sqrt(F.aggregate(
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * x),
        F.lit(0.0), lambda acc, v: acc + v))
    nq = F.sqrt(F.aggregate(
        F.transform(F.col("qv").cast("array<double>"), lambda x: x * x),
        F.lit(0.0), lambda acc, v: acc + v))
    cos = F.round(dot / (nc * nq), 6)
    return (c.crossJoin(F.broadcast(q))
            .select("query_id", "vec_id", cos.alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= _RANGE_THR)
            .orderBy("query_id", "vec_id"))


ANN_RANGE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {_RANGE_NQ}),
c AS (SELECT vec_id, embedding FROM embeddings
      WHERE vec_id >= {_RANGE_NQ})
SELECT q.query_id, c.vec_id,
       round(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                              CAST(q.qv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                        CAST(q.qv AS DOUBLE[])))), 6)
         AS cosine_sim
FROM c CROSS JOIN q
WHERE round(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                             CAST(q.qv AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                     CAST(c.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                       CAST(q.qv AS DOUBLE[])))), 6)
      >= {_RANGE_THR}
ORDER BY query_id, vec_id
"""


QUERIES["ann_range_search"] = (ann_range_search, ANN_RANGE_SQL)


def events_hourly_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """Weekday × hour activity heatmap with the within-day intensity
    ratio (n·24 / day-total, micro-quantized) — the on-call load
    profile.  One map-side-combined agg over the raw events; margins
    from a window over the 168-cell table."""
    ev = t(spark, sf, "events")
    cells = (ev.groupBy(F.weekday("ts").alias("dow"),
                        F.hour("ts").alias("hour"))
             .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("dow")
    ratio = F.floor(F.col("n") * 24 * 1000000
                    / F.sum("n").over(tot)).cast("long")
    return (cells.select("dow", "hour", "n",
                         ratio.alias("intensity_micro"))
            .orderBy("dow", "hour"))


HEATMAP_SQL = """
WITH cells AS (
  SELECT isodow(ts) - 1 AS dow, hour(ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT dow, hour, n,
       CAST(floor(n * 24 * 1000000 / sum(n) OVER (PARTITION BY dow))
            AS BIGINT) AS intensity_micro
FROM cells
ORDER BY dow, hour
"""


QUERIES["events_hourly_heatmap"] = (events_hourly_heatmap, HEATMAP_SQL)


_KCORE_KS = [2, 3]
_KCORE_ROUNDS = 12


def graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """k-core decomposition of the co-purchase graph (k=2,3): repeated
    peeling of nodes with alive-degree < k.  The iterative-fixpoint
    operator shape: each round is one equi-join + agg, and the rounds
    are one operators/graph.iterate ladder whose ``until`` is the alive
    count — that count is the one action that materializes a
    generation, and an unchanged count is the fixpoint (equal-count ⇒
    equal-set under monotone peeling).  Both engines run the identical
    {_KCORE_ROUNDS}-round bound, so results match even mid-convergence;
    at the tested SFs peeling reaches fixpoint in ≤ 5 rounds.

    Round 1 degrees come straight off the adjacency (every node is
    alive, so the two alive-joins would be no-op filters), and the
    k=2 / k=3 ladders run in two driver threads so one ladder's
    scheduler gaps back-fill with the other's tasks (FIFO scheduling,
    the edge list pinned BEFORE the threads fork so neither recomputes
    it)."""
    from concurrent.futures import ThreadPoolExecutor

    e = pin(_edges(spark, sf))
    adj = _adj(e)

    def peel(k: int) -> DataFrame:
        def step(alive: DataFrame) -> DataFrame:
            av = alive.select(F.col("u").alias("vv"))
            return (adj.join(alive, "u")
                    .join(av, F.col("v") == F.col("vv"))
                    .groupBy("u").agg(F.count(F.lit(1)).alias("d"))
                    .filter(F.col("d") >= k).select("u"))

        seed = (adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k).select("u"))
        alive = iterate(seed, step, _KCORE_ROUNDS - 1, until=DataFrame.count)
        al2 = alive.select(F.col("u").alias("pa2"))
        al3 = alive.select(F.col("u").alias("pb2"))
        core_edges = (e.join(al2, F.col("pa") == F.col("pa2"))
                      .join(al3, F.col("pb") == F.col("pb2")))
        return (alive.agg(F.lit(k).alias("k"),
                          F.count(F.lit(1)).alias("n_core_nodes"))
                .crossJoin(core_edges.agg(
                    F.count(F.lit(1)).alias("n_core_edges"))))

    with ThreadPoolExecutor(max_workers=len(_KCORE_KS)) as pool:
        return reduce(DataFrame.unionAll,
                      pool.map(peel, _KCORE_KS)).orderBy("k")


def _kcore_sql() -> str:
    # Every chain CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and the double self-reference per round would expand
    # to 2^rounds parquet scans otherwise ("too many open files").
    chains = ["em AS MATERIALIZED (SELECT pa, pb FROM e)",
              "adjm AS MATERIALIZED (SELECT u, v FROM adj)"]
    selects = []
    for k in _KCORE_KS:
        prev = f"k{k}_a0"
        chains.append(
            f"{prev} AS MATERIALIZED (SELECT DISTINCT u FROM adjm)")
        for i in range(1, _KCORE_ROUNDS + 1):
            cur = f"k{k}_a{i}"
            chains.append(
                f"{cur} AS MATERIALIZED (SELECT a.u FROM adjm a "
                f"JOIN {prev} p ON p.u = a.u "
                f"JOIN {prev} q ON q.u = a.v "
                f"GROUP BY a.u HAVING count(*) >= {k})")
            prev = cur
        selects.append(
            f"SELECT {k} AS k, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM {prev}) AS n_core_nodes, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM em "
            f" WHERE em.pa IN (SELECT u FROM {prev}) "
            f"   AND em.pb IN (SELECT u FROM {prev})) AS n_core_edges")
    return (f"WITH {_EDGE_SQL}, " + ",\n".join(chains) + "\n"
            + "\nUNION ALL\n".join(selects) + "\nORDER BY k")


QUERIES["graph_kcore"] = (graph_kcore, _kcore_sql())
