"""Graph batch 3: the Louvain community-detection MOVE ROUND — the
local-optimization step the modularity family (graph_modularity =
measurement, graph_label_propagation = plain majority labels) was
missing.  One synchronous round, ALL-INTEGER modularity gains.

Cross-engine exactness: every gain and both modularity values are
computed in the (2m)^2-scaled integer form
    Q·(2m)^2 = Σ_c (2m·Σin_c − Σtot_c²)
    gain2m(i→c') = 2m·w_{i→c'} − k_i·Σtot_{c'}
so there is no float anywhere until the final display division (one
CAST to DOUBLE of an integer-valued decimal — the portable integer-
scale conversion).  Products pass int64 at extreme scale and are
widened to decimal(38,0)/HUGEINT before the multiply (the ADVICE
overflow discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.graph import symmetrize
from storagetapper_spark.operators.pin import pin, release
from storagetapper_spark.plans.common import (copurchase_pairs,
                                              order_baskets, t)

QUERIES: dict = {}


def graph_louvain_move_round(spark: SparkSession, sf: str) -> DataFrame:
    """One synchronous Louvain round on the co-purchase part graph,
    seeded with brand communities: every node simultaneously evaluates
    moving to the best neighboring community by exact scaled
    modularity gain (ties: stay; equal-gain targets: largest
    community id — a total order, so the round is deterministic).
    The synchronous variant is the standard distributed Louvain
    formulation (no sequential node order to replay).

    Scale shape: edge-list joins keyed by node/community (the
    pagerank/LPA machinery), one struct-max argmax per node, two
    label joins for the modularity accounting.  Nothing is ever
    all-pairs and nothing sequential crosses the driver."""
    # the weighted strong graph; the final action reads it from the
    # symmetrized adjacency, the q4 edge join and the edge count
    edges = pin(copurchase_pairs(order_baskets(spark, sf))
                .filter(F.col("n_ab") >= 2)
                .select("pa", "pb", F.col("n_ab").alias("w")))
    sym = symmetrize(edges, "pa", "pb", "w").select(
        F.col("pa").alias("i"), F.col("pb").alias("j"), "w")
    # deg feeds lbl and both q4 accountings, lbl feeds tot/nbr/base/cand
    # — pin the tiny per-node tables (r10, guide §5).
    deg = pin(sym.groupBy("i").agg(F.sum("w").alias("k")))
    m2df = deg.agg(F.sum("k").alias("m2"))
    part = t(spark, sf, "part").select(
        F.col("p_partkey").alias("i"), F.col("p_brand").alias("c"))
    lbl = pin(deg.join(part, "i").select("i", "k", "c"))
    tot = lbl.groupBy("c").agg(F.sum("k").alias("tot"))
    # per (node, neighbor community): total edge weight into it
    nbr = (sym.join(lbl.select(F.col("i").alias("j"),
                               F.col("c").alias("cj")), "j")
           .groupBy("i", "cj").agg(F.sum("w").alias("wic")))
    # r11 (VERDICT r10 #4, guide §1.2): the stay/cand/argmax chain is
    # ONE pass over nbr instead of two (the old `base` chain re-joined
    # lbl⋈nbr⋈tot just to compute w_own).  Per node, a single grouped
    # aggregate yields BOTH the best non-own candidate (the identical
    # max(struct(g, cj)) — same decimal g expression, same tie order)
    # and w_own = Σ wic over own-community rows (Σ over ≤1 row, ==
    # the old left-join + fill(0) via the coalesce below).  Exact
    # integer/decimal math throughout — no float anywhere.
    x = (nbr.join(lbl.select("i", F.col("c").alias("c_own"), "k"), "i")
         .join(F.broadcast(tot.select(F.col("c").alias("cj"),
                                      F.col("tot").alias("tot_t"))),
               "cj")
         .crossJoin(F.broadcast(m2df)))
    g = (F.col("m2").cast("decimal(19,0)") * F.col("wic")
         - F.col("k").cast("decimal(19,0)") * F.col("tot_t")
         ).cast("decimal(38,0)")
    per_i = (x.groupBy("i").agg(
        F.max(F.when(F.col("cj") != F.col("c_own"),
                     F.struct(g.alias("g"), F.col("cj"))))
        .alias("b"),
        F.sum(F.when(F.col("cj") == F.col("c_own"), F.col("wic")))
        .alias("w_own")))
    stay = (F.col("m2").cast("decimal(19,0)")
            * F.coalesce(F.col("w_own"), F.lit(0))
            - F.col("k").cast("decimal(19,0)")
            * (F.col("tot") - F.col("k"))).cast("decimal(38,0)")
    # moved (the tiny (i, c, c_new) label table) is read by lj/lk (the
    # q4 edge join's two label sides), tots and counts: pinned, the
    # argmax chain runs once
    moved = pin(lbl.join(per_i, "i", "left")
                .join(F.broadcast(tot), "c")
                .crossJoin(F.broadcast(m2df))
                .select("i", "c",
                        F.when(F.col("b.g") > stay,
                               F.col("b.cj")).otherwise(F.col("c"))
                        .alias("c_new")))
    release(lbl)  # moved is its last reader

    # r11 (VERDICT r10 #4): BOTH modularity accountings in one pass —
    # a stacked explode tags every edge/degree row 0=before/1=after,
    # so edges⋈labels⋈labels and moved⋈deg each run ONCE instead of
    # twice, and one conditional aggregate emits all four outputs.
    # Exactness: each (tag, community) group receives exactly the rows
    # the old per-labeling q4 saw; the summed terms are the identical
    # decimal expressions, and decimal/integer sums are order-free.
    lj = moved.select(F.col("i").alias("pa"), F.col("c").alias("ca"),
                      F.col("c_new").alias("ca2"))
    lk = moved.select(F.col("i").alias("pb"), F.col("c").alias("cb"),
                      F.col("c_new").alias("cb2"))
    inner = (edges.join(lj, "pa").join(lk, "pb")
             .select("w", F.explode(F.array(
                 F.struct(F.lit(0).alias("tag"),
                          F.col("ca").alias("ca"),
                          F.col("cb").alias("cb")),
                 F.struct(F.lit(1).alias("tag"),
                          F.col("ca2").alias("ca"),
                          F.col("cb2").alias("cb")))).alias("t"))
             .filter(F.col("t.ca") == F.col("t.cb"))
             .groupBy(F.col("t.tag").alias("tag"),
                      F.col("t.ca").alias("ca"))
             .agg((2 * F.sum("w")).alias("s_in")))
    tots = (moved.join(deg, "i")
            .select("k", F.explode(F.array(
                F.struct(F.lit(0).alias("tag"), F.col("c").alias("ca")),
                F.struct(F.lit(1).alias("tag"),
                         F.col("c_new").alias("ca")))).alias("t"))
            .groupBy(F.col("t.tag").alias("tag"),
                     F.col("t.ca").alias("ca"))
            .agg(F.sum("k").alias("s_tot")))
    term = (F.col("m2").cast("decimal(19,0)") * F.col("s_in")
            - F.col("s_tot").cast("decimal(19,0)")
            * F.col("s_tot")).cast("decimal(38,0)")
    q4row = (tots.join(inner, ["tag", "ca"], "left")
             .na.fill({"s_in": 0})
             .crossJoin(F.broadcast(m2df))
             .agg(F.sum(F.when(F.col("tag") == 0, term))
                  .alias("q4_before"),
                  F.sum(F.when(F.col("tag") == 1, term))
                  .alias("q4_after"),
                  F.count(F.when(F.col("tag") == 0, F.lit(1)))
                  .alias("n_comm_before"),
                  F.count(F.when(F.col("tag") == 1, F.lit(1)))
                  .alias("n_comm_after")))
    counts = moved.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((F.col("c_new") != F.col("c")).cast("long"))
        .alias("n_moved"))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    qmicro = lambda c: (F.floor(F.col(c).cast("double")  # noqa: E731
                                / (F.col("m2").cast("double")
                                   * F.col("m2").cast("double")) * 1e6)
                        .cast("long"))
    return (counts.crossJoin(F.broadcast(ne))
            .crossJoin(F.broadcast(m2df))
            .crossJoin(F.broadcast(q4row))
            .select("n_nodes", "n_edges", "m2", "n_moved",
                    "n_comm_before", "n_comm_after",
                    qmicro("q4_before").alias("q_before_micro"),
                    qmicro("q4_after").alias("q_after_micro")))


LOUVAIN_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(count(*) AS BIGINT) AS w
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
sym AS (
  SELECT pa AS i, pb AS j, w FROM edges
  UNION ALL SELECT pb, pa, w FROM edges),
deg AS (SELECT i, CAST(sum(w) AS BIGINT) AS k FROM sym GROUP BY i),
m2t AS (SELECT CAST(sum(k) AS BIGINT) AS m2 FROM deg),
lbl AS (SELECT d.i, d.k, p.p_brand AS c
        FROM deg d JOIN part p ON p.p_partkey = d.i),
tot AS (SELECT c, CAST(sum(k) AS BIGINT) AS tot FROM lbl GROUP BY c),
nbr AS (
  SELECT s.i, l.c AS cj, CAST(sum(s.w) AS BIGINT) AS wic
  FROM sym s JOIN lbl l ON l.i = s.j GROUP BY 1, 2),
stay AS (
  SELECT l.i, l.c,
         CAST(CAST(m.m2 AS HUGEINT) * COALESCE(n.wic, 0)
              - CAST(l.k AS HUGEINT) * (t.tot - l.k)
              AS DECIMAL(38,0)) AS g_stay
  FROM lbl l
  LEFT JOIN nbr n ON n.i = l.i AND n.cj = l.c
  JOIN tot t ON t.c = l.c, m2t m),
cand AS (
  SELECT n.i, n.cj,
         CAST(CAST(m.m2 AS HUGEINT) * n.wic
              - CAST(l.k AS HUGEINT) * t.tot
              AS DECIMAL(38,0)) AS g
  FROM nbr n
  JOIN lbl l ON l.i = n.i AND l.c <> n.cj
  JOIN tot t ON t.c = n.cj, m2t m),
best AS (
  SELECT i, (max({'g': g, 'cj': cj})).g AS best_g,
         (max({'g': g, 'cj': cj})).cj AS best_c
  FROM cand GROUP BY i),
moved AS (
  SELECT s.i, s.c,
         CASE WHEN b.best_g > s.g_stay THEN b.best_c ELSE s.c END
           AS c_new
  FROM stay s LEFT JOIN best b ON b.i = s.i),
qb AS (
  SELECT CAST(sum(CAST(CAST(m.m2 AS HUGEINT) * COALESCE(x.s_in, 0)
                       - CAST(t.s_tot AS HUGEINT) * t.s_tot
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q4_before,
         CAST(count(*) AS BIGINT) AS n_comm_before
  FROM (SELECT c AS ca, CAST(sum(k) AS BIGINT) AS s_tot
        FROM moved JOIN deg USING (i) GROUP BY 1) t
  LEFT JOIN (SELECT la.c AS ca, 2 * CAST(sum(e.w) AS BIGINT) AS s_in
             FROM edges e
             JOIN moved la ON la.i = e.pa
             JOIN moved lb ON lb.i = e.pb AND la.c = lb.c
             GROUP BY 1) x ON x.ca = t.ca, m2t m),
qa AS (
  SELECT CAST(sum(CAST(CAST(m.m2 AS HUGEINT) * COALESCE(x.s_in, 0)
                       - CAST(t.s_tot AS HUGEINT) * t.s_tot
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q4_after,
         CAST(count(*) AS BIGINT) AS n_comm_after
  FROM (SELECT c_new AS ca, CAST(sum(k) AS BIGINT) AS s_tot
        FROM moved JOIN deg USING (i) GROUP BY 1) t
  LEFT JOIN (SELECT la.c_new AS ca, 2 * CAST(sum(e.w) AS BIGINT) AS s_in
             FROM edges e
             JOIN moved la ON la.i = e.pa
             JOIN moved lb ON lb.i = e.pb AND la.c_new = lb.c_new
             GROUP BY 1) x ON x.ca = t.ca, m2t m),
counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(count(*) FILTER (WHERE c_new <> c) AS BIGINT) AS n_moved
  FROM moved),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_nodes, n_edges, m2, n_moved, n_comm_before, n_comm_after,
       CAST(floor(CAST(q4_before AS DOUBLE)
                  / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) * 1e6)
            AS BIGINT) AS q_before_micro,
       CAST(floor(CAST(q4_after AS DOUBLE)
                  / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) * 1e6)
            AS BIGINT) AS q_after_micro
FROM counts, ne, m2t, qb, qa
"""

QUERIES["graph_louvain_move_round"] = (graph_louvain_move_round,
                                       LOUVAIN_SQL)
