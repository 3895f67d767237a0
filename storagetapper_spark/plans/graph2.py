"""Graph analytics batch 2 over the co-purchase part graph: Jaccard
link prediction, BFS reachability profile, and degree assortativity.
Complements relational10's pagerank/triangles/entity-resolution family
with the link-prediction and structure-diagnostic layer (standard
network-analysis surface; cf. the graph sections in PAPERS.md).

Graph construction is shared with graph_triangles (relational10.py):
nodes = parts, an undirected edge when two parts co-occur in ≥ 2
orders, stored once low-id→high-id.

Scale shapes: every join below is an equi-join on node ids — wedge
fan-out is bounded by max degree (the thresholded basket graph keeps
degrees small; at 100 TB the degree-cap/orientation argument from
graph_triangles applies identically).  Degrees and common-neighbor
counts are exact BIGINTs; Jaccard/assortativity drop to DOUBLE only in
the final expression (floor·10⁶ — hash-stable, SCALE.md discipline).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.graph import symmetrize
from storagetapper_spark.operators.pin import iterate, pin, release
from storagetapper_spark.plans.common import (copurchase_pairs,
                                              order_baskets, t)

_EDGE_SQL = """
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING count(*) >= 2),
adj AS (SELECT pa AS u, pb AS v FROM e
        UNION ALL SELECT pb AS u, pa AS v FROM e)
"""


def _edges(spark: SparkSession, sf: str) -> DataFrame:
    """Low→high co-purchase edges (pa, pb), ≥2 shared orders — the
    strong graph of the whole family (``_EDGE_SQL``'s ``e``)."""
    return (copurchase_pairs(order_baskets(spark, sf))
            .filter(F.col("n_ab") >= 2)
            .select("pa", "pb"))


def _adj(e: DataFrame) -> DataFrame:
    """(u, v): both orientations of every edge (``_EDGE_SQL``'s ``adj``)."""
    return symmetrize(e, "pa", "pb").select(F.col("pa").alias("u"),
                                            F.col("pb").alias("v"))


_LP_TOPK = 20


def graph_jaccard_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 NOT-yet-connected part pairs by neighbor-set Jaccard —
    the classic link-prediction score (predicted next co-purchases).

    Plan: wedge join on the shared neighbor (each candidate pair
    generated once via u<v), minus existing edges (left-anti on the
    oriented edge list), degrees joined in from a tiny per-node agg.
    One top-k at the end (TakeOrderedAndProject).  No all-pairs stage
    anywhere: candidates exist only at distance 2."""
    e = pin(_edges(spark, sf))
    adj = _adj(e)
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    a = adj.select(F.col("v").alias("w"), F.col("u").alias("cu"))
    b = adj.select(F.col("v").alias("w2"), F.col("u").alias("cv"))
    cand = (a.join(b, (F.col("w") == F.col("w2"))
                   & (F.col("cu") < F.col("cv")))
            .groupBy(F.col("cu").alias("u"), F.col("cv").alias("v"))
            .agg(F.count(F.lit(1)).alias("cn")))
    cand = cand.join(e, (cand.u == e.pa) & (cand.v == e.pb), "left_anti")
    du = deg.select(F.col("u").alias("du_id"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("dv_id"), F.col("deg").alias("deg_v"))
    scored = (cand.join(F.broadcast(du), F.col("u") == F.col("du_id"))
              .join(F.broadcast(dv), F.col("v") == F.col("dv_id")))
    jac = (F.col("cn").cast("double")
           / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast("double"))
    return (scored.select(
        "u", "v", "cn", "deg_u", "deg_v",
        F.floor(jac * 1000000).cast("long").alias("jaccard_micro"))
        .orderBy(F.desc("jaccard_micro"), F.desc("cn"), "u", "v")
        .limit(_LP_TOPK))


LINK_PREDICTION_SQL = f"""
WITH {_EDGE_SQL},
cand AS (
  SELECT a.u AS u, b.u AS v, count(*) AS cn
  FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
  GROUP BY 1, 2
),
nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN e ON e.pa = c.u AND e.pb = c.v
  WHERE e.pa IS NULL
),
deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u)
SELECT n.u, n.v, n.cn, du.deg AS deg_u, dv.deg AS deg_v,
       CAST(floor(CAST(n.cn AS DOUBLE)
                  / CAST(du.deg + dv.deg - n.cn AS DOUBLE)
                  * 1000000) AS BIGINT) AS jaccard_micro
FROM nonedge n
JOIN deg du ON du.u = n.u
JOIN deg dv ON dv.u = n.v
ORDER BY jaccard_micro DESC, n.cn DESC, n.u, n.v
LIMIT {_LP_TOPK}
"""


def graph_ra_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 not-yet-connected pairs by the Resource-Allocation index
    RA(u,v) = Σ_{w ∈ CN(u,v)} 1/deg(w) (Zhou/Lü/Zhang 2009) — the
    hub-discounting cousin of Jaccard link prediction: a shared
    low-degree neighbor is strong evidence, a shared hub is weak.

    Same wedge machinery as graph_jaccard_link_prediction, but the
    score needs PER-CENTER weights, so each wedge carries its center's
    floor(10⁶/deg(w)) — an exact INTEGER per center (no libm log as in
    Adamic-Adar, hence hash-exact cross-engine) — and the pair score is
    an exact integer sum of those micros."""
    e = pin(_edges(spark, sf))
    adj = _adj(e)
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    wmicro = (deg.select(F.col("u").alias("w"),
                         F.floor(F.lit(1000000) / F.col("deg"))
                         .cast("long").alias("w_micro")))
    a = adj.select(F.col("v").alias("w"), F.col("u").alias("cu"))
    b = adj.select(F.col("v").alias("w2"), F.col("u").alias("cv"))
    cand = (a.join(b, (F.col("w") == F.col("w2"))
                   & (F.col("cu") < F.col("cv")))
            .join(F.broadcast(wmicro), "w")
            .groupBy(F.col("cu").alias("u"), F.col("cv").alias("v"))
            .agg(F.count(F.lit(1)).alias("cn"),
                 F.sum("w_micro").alias("ra_micro")))
    cand = cand.join(e, (cand.u == e.pa) & (cand.v == e.pb), "left_anti")
    return (cand.select("u", "v", "cn", "ra_micro")
            .orderBy(F.desc("ra_micro"), F.desc("cn"), "u", "v")
            .limit(_LP_TOPK))


RA_LINK_SQL = f"""
WITH {_EDGE_SQL},
deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
wmicro AS (SELECT u AS w, CAST(floor(1000000 / deg) AS BIGINT)
             AS w_micro
           FROM deg),
cand AS (
  SELECT a.u AS u, b.u AS v, count(*) AS cn,
         CAST(sum(m.w_micro) AS BIGINT) AS ra_micro
  FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
  JOIN wmicro m ON m.w = a.v
  GROUP BY 1, 2
)
SELECT c.u, c.v, c.cn, c.ra_micro FROM cand c
LEFT JOIN e ON e.pa = c.u AND e.pb = c.v
WHERE e.pa IS NULL
ORDER BY c.ra_micro DESC, c.cn DESC, c.u, c.v
LIMIT {_LP_TOPK}
"""


_LP_CAP_K = 32


def graph_jaccard_link_prediction_capped(spark: SparkSession,
                                         sf: str) -> DataFrame:
    """Degree-capped Jaccard link prediction — the bounded-work scale
    path for the exact wedge form above (VERDICT r5 #2).

    The exact form's wedge stage is Σ_w deg(w)² — work-linear in data
    but quadratic in hub degree, the one family the 10x probes flagged.
    Here each wedge CENTER w contributes only its top-K=32 neighbors
    (ranked by neighbor degree desc, id asc — deterministic, so the
    oracle replays the cap bit-for-bit), bounding wedge work at
    K²/2 per center regardless of hub size — the standard top-K
    neighborhood truncation from large-scale link-prediction practice.
    Degrees in the Jaccard denominator stay EXACT (full adjacency);
    only the common-neighbor count is computed over capped lists, so
    scores are a deterministic lower bound that converges to exact for
    nodes with deg ≤ K.  Same approx-twin pattern as the percentile
    *_approx family: exact sibling stays registered for audit.

    Scale shape: the cap rank is a window partitioned by center node —
    shuffle on w, never unpartitioned; everything downstream is the
    exact form's equi-join machinery on strictly smaller inputs."""
    e = pin(_edges(spark, sf))
    adj = _adj(e)
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    degb = deg.select(F.col("u").alias("c"), "deg")
    nbr = adj.select(F.col("v").alias("w"), F.col("u").alias("c"))
    # r10 (guide §2.4, the graph_minhash_link_prediction bucket-array
    # pattern): ONE groupBy(w) builds the rank-capped neighbor array —
    # sort_array(struct(-deg, c)) ascending == the former window's
    # (deg DESC, c ASC) total order (c is unique per center, so no
    # ties) and slice(1, K) == rk <= K — and the candidate pairs
    # explode in-map with least/greatest orientation, replacing the
    # window sort + two-sided self-join of the capped table.  Pair
    # multiset identical; work per center stays bounded by K²/2.
    capped_arr = (nbr.join(F.broadcast(degb), "c")
                  .groupBy("w")
                  .agg(F.expr(
                      f"transform(slice(sort_array(collect_list("
                      f"named_struct('nd', -deg, 'c', c))), 1,"
                      f" {_LP_CAP_K}), s -> s.c)").alias("cs")))
    pe = F.explode(F.expr(
        "flatten(transform(cs, (x, i) -> transform(slice(cs, i + 2,"
        " size(cs)), y -> named_struct('cu', least(x, y),"
        " 'cv', greatest(x, y)))))")).alias("pr")
    cand = (capped_arr.select(pe)
            .groupBy(F.col("pr.cu").alias("u"), F.col("pr.cv").alias("v"))
            .agg(F.count(F.lit(1)).alias("cn")))
    cand = cand.join(e, (cand.u == e.pa) & (cand.v == e.pb), "left_anti")
    du = deg.select(F.col("u").alias("du_id"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("dv_id"), F.col("deg").alias("deg_v"))
    scored = (cand.join(F.broadcast(du), F.col("u") == F.col("du_id"))
              .join(F.broadcast(dv), F.col("v") == F.col("dv_id")))
    jac = (F.col("cn").cast("double")
           / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast("double"))
    return (scored.select(
        "u", "v", "cn", "deg_u", "deg_v",
        F.floor(jac * 1000000).cast("long").alias("jaccard_micro"))
        .orderBy(F.desc("jaccard_micro"), F.desc("cn"), "u", "v")
        .limit(_LP_TOPK))


LINK_PREDICTION_CAPPED_SQL = f"""
WITH {_EDGE_SQL},
deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
ranked AS (
  SELECT a.v AS w, a.u AS c,
         ROW_NUMBER() OVER (PARTITION BY a.v
                            ORDER BY d.deg DESC, a.u ASC) AS rk
  FROM adj a JOIN deg d ON d.u = a.u
),
capped AS (SELECT w, c FROM ranked WHERE rk <= {_LP_CAP_K}),
cand AS (
  SELECT a.c AS u, b.c AS v, count(*) AS cn
  FROM capped a JOIN capped b ON a.w = b.w AND a.c < b.c
  GROUP BY 1, 2
),
nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN e ON e.pa = c.u AND e.pb = c.v
  WHERE e.pa IS NULL
)
SELECT n.u, n.v, n.cn, du.deg AS deg_u, dv.deg AS deg_v,
       CAST(floor(CAST(n.cn AS DOUBLE)
                  / CAST(du.deg + dv.deg - n.cn AS DOUBLE)
                  * 1000000) AS BIGINT) AS jaccard_micro
FROM nonedge n
JOIN deg du ON du.u = n.u
JOIN deg dv ON dv.u = n.v
ORDER BY jaccard_micro DESC, n.cn DESC, n.u, n.v
LIMIT {_LP_TOPK}
"""


_MH_H = 16          # signature components
_MH_BANDS = 4       # 4 bands x 4 rows
_MH_BUCKET_CAP = 128


def graph_minhash_link_prediction(spark: SparkSession,
                                  sf: str) -> DataFrame:
    """MinHash-over-adjacency link prediction — the sketch-based scale
    path (VERDICT r5 #2's second variant): estimate neighbor-set
    Jaccard from 16-component minhash signatures instead of counting
    common neighbors with a wedge join, so the pair-generation cost is
    LSH-band-bounded rather than Σ deg(w)².

    The dedup machinery applied to adjacency lists
    (operators/dedup.minhash_signature house pattern: min over salted
    md5 hex — lexicographic order on fixed-width hex == numeric order,
    so the DuckDB oracle replays every component bit-for-bit):
      1. signature: 16 min-md5 aggregates per node over its neighbor
         ids — one map-side-combined groupBy, no explode;
      2. candidates: 4-row band keys, self-join per band with a
         128-member bucket cap (the dedup star-bound: a hub whose
         leaves share identical 1-neighbor signatures would otherwise
         produce a quadratic clique — capped buckets are skipped, and
         the oracle replays the cap);
      3. score: component-agreement count → floor(agree/16 · 10⁶),
         existing edges anti-joined away, global top-20.
    Estimates converge on the exact form's ranking for high-Jaccard
    pairs — the regime link prediction cares about; both exact forms
    stay registered for audit."""
    # e feeds the sig pin and the existing-edge anti-join; the final
    # action reads sig three times (band explode + both signature join
    # sides)
    e = pin(_edges(spark, sf))
    sig = pin(_adj(e).groupBy("u").agg(*[
        F.min(F.md5(F.concat_ws("|", F.lit(str(i)),
                                F.col("v").cast("string"))))
         .alias(f"mh_{i}") for i in range(_MH_H)]))
    rows_per_band = _MH_H // _MH_BANDS
    bands = sig.select(
        "u",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws(",", *[F.col(f"mh_{b * rows_per_band + r}")
                                        for r in range(rows_per_band)])
                     .alias("bkey"))
            for b in range(_MH_BANDS)])).alias("bk")) \
        .select("u", "bk.band", "bk.bkey")
    # r10 (guide §2.4): bucket-array pair build — ONE shuffle by
    # (band, bkey) + an in-map strict i<j combination explode replaces
    # the bucket-size window + two-sided self-join (each its own
    # exchange over the banded rows).  u is unique per (band, bkey), so
    # size(collect_set) == the former count() window and the cap is
    # identical; sorted arrays keep the strict u < v orientation.
    buckets = (bands.groupBy("band", "bkey")
               .agg(F.sort_array(F.collect_set("u")).alias("us"))
               .filter(F.size("us") <= _MH_BUCKET_CAP))
    pe = F.explode(F.expr(
        "flatten(transform(us, (x, i) -> transform(slice(us, i + 2,"
        " size(us)), y -> named_struct('u', x, 'v', y))))")).alias("pr")
    cand = (buckets.select(pe)
            .select(F.col("pr.u").alias("u"), F.col("pr.v").alias("v"))
            .distinct())
    cand = cand.join(e, (cand.u == e.pa) & (cand.v == e.pb), "left_anti")
    su = sig.select(F.col("u").alias("su"),
                    *[F.col(f"mh_{i}").alias(f"a_{i}")
                      for i in range(_MH_H)])
    sv = sig.select(F.col("u").alias("sv"),
                    *[F.col(f"mh_{i}").alias(f"b_{i}")
                      for i in range(_MH_H)])
    scored = (cand.join(su, F.col("u") == F.col("su"))
              .join(sv, F.col("v") == F.col("sv")))
    n_agree = sum(F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1)
                  .otherwise(0) for i in range(_MH_H))
    return (scored.select(
        "u", "v", n_agree.cast("long").alias("n_agree"),
        F.floor(n_agree.cast("double") / _MH_H * 1000000)
         .cast("long").alias("jaccard_est_micro"))
        .orderBy(F.desc("jaccard_est_micro"), "u", "v")
        .limit(_LP_TOPK))


_MH_SIG_COLS = ",\n         ".join(
    f"min(md5('{i}' || '|' || CAST(v AS VARCHAR))) AS mh_{i}"
    for i in range(_MH_H))
_MH_BAND_ROWS = " UNION ALL ".join(
    "SELECT u, {b} AS band, {key} AS bkey FROM sig".format(
        b=b, key=" || ',' || ".join(
            f"mh_{b * (_MH_H // _MH_BANDS) + r}"
            for r in range(_MH_H // _MH_BANDS)))
    for b in range(_MH_BANDS))
_MH_AGREE = " + ".join(
    f"CASE WHEN su.mh_{i} = sv.mh_{i} THEN 1 ELSE 0 END"
    for i in range(_MH_H))

MINHASH_LINK_SQL = f"""
WITH {_EDGE_SQL},
sig AS (
  SELECT u,
         {_MH_SIG_COLS}
  FROM adj GROUP BY u
),
bands AS ({_MH_BAND_ROWS}),
bc AS (
  SELECT * FROM (
    SELECT u, band, bkey,
           count(*) OVER (PARTITION BY band, bkey) AS n_bucket
    FROM bands)
  WHERE n_bucket <= {_MH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.u AS u, b.u AS v
  FROM bc a JOIN bc b ON a.band = b.band AND a.bkey = b.bkey
                     AND a.u < b.u
),
nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN e ON e.pa = c.u AND e.pb = c.v
  WHERE e.pa IS NULL
)
SELECT n.u, n.v,
       CAST({_MH_AGREE} AS BIGINT) AS n_agree,
       CAST(floor(CAST({_MH_AGREE} AS DOUBLE) / {_MH_H} * 1000000)
            AS BIGINT) AS jaccard_est_micro
FROM nonedge n
JOIN sig su ON su.u = n.u
JOIN sig sv ON sv.u = n.v
ORDER BY jaccard_est_micro DESC, n.u, n.v
LIMIT {_LP_TOPK}
"""


QUERIES = {
    "graph_jaccard_link_prediction":
        (graph_jaccard_link_prediction, LINK_PREDICTION_SQL),
    "graph_ra_link_prediction":
        (graph_ra_link_prediction, RA_LINK_SQL),
    "graph_jaccard_link_prediction_capped":
        (graph_jaccard_link_prediction_capped, LINK_PREDICTION_CAPPED_SQL),
    "graph_minhash_link_prediction":
        (graph_minhash_link_prediction, MINHASH_LINK_SQL),
}


_BFS_HOPS = 3


def graph_bfs_distance(spark: SparkSession, sf: str) -> DataFrame:
    """BFS reachability profile from a deterministic source (the
    lowest-id part with an edge): node counts at hop distance 0..3.

    Fixed-depth unrolled frontier expansion — each hop is one equi-join
    frontier⋈adj followed by a distinct and an accumulated-visited
    anti-join; at 100 TB this is the standard iterative BFS whose
    frontier is pinned per generation (operators/pin.pin): the next
    hop, the visited set and the profile row all read it."""
    # adj is read once per hop plus the source agg (e needs no pin of
    # its own: adj is its only consumer)
    adj = pin(_adj(_edges(spark, sf)))
    src = adj.agg(F.min("u").alias("u"))  # 1 row
    visited = frontier = src.select("u")
    rows = [src.select(F.lit(0).alias("dist"),
                       F.count(F.lit(1)).alias("n_nodes"))]
    for hop in range(1, _BFS_HOPS + 1):
        frontier = pin(frontier.join(adj, "u")
                       .select(F.col("v").alias("u")).distinct()
                       .join(visited, "u", "left_anti"))
        rows.append(frontier.agg(F.lit(hop).alias("dist"),
                                 F.count(F.lit(1)).alias("n_nodes")))
        visited = visited.unionAll(frontier)
    return reduce(DataFrame.unionAll, rows).orderBy("dist")


BFS_SQL = f"""
WITH {_EDGE_SQL},
src AS (SELECT min(u) AS u FROM adj),
d1 AS (
  SELECT DISTINCT a.v AS u FROM src s JOIN adj a ON a.u = s.u
  WHERE a.v NOT IN (SELECT u FROM src)
),
d2 AS (
  SELECT DISTINCT a.v AS u FROM d1 JOIN adj a ON a.u = d1.u
  WHERE a.v NOT IN (SELECT u FROM src)
    AND a.v NOT IN (SELECT u FROM d1)
),
d3 AS (
  SELECT DISTINCT a.v AS u FROM d2 JOIN adj a ON a.u = d2.u
  WHERE a.v NOT IN (SELECT u FROM src)
    AND a.v NOT IN (SELECT u FROM d1)
    AND a.v NOT IN (SELECT u FROM d2)
)
SELECT 0 AS dist, CAST(count(*) AS BIGINT) AS n_nodes FROM src
UNION ALL SELECT 1, CAST(count(*) AS BIGINT) FROM d1
UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM d2
UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM d3
ORDER BY dist
"""


QUERIES["graph_bfs_distance"] = (graph_bfs_distance, BFS_SQL)


def graph_degree_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity: Pearson correlation of endpoint degrees
    over the directed edge list (both orientations — the standard
    undirected treatment).  Negative ⇒ hubs connect to leaves
    (disassortative, typical of co-purchase graphs).

    Exact BIGINT sufficient statistics over integer degrees; one final
    double expression (the ts_autocorrelation pattern)."""
    # e is read through adj twice: the degree aggregate behind both
    # endpoint-degree broadcasts, and the adj scan they join onto
    e = pin(_edges(spark, sf))
    adj = _adj(e)
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u").alias("su"), F.col("deg").alias("x"))
    dv = deg.select(F.col("u").alias("sv"), F.col("deg").alias("y"))
    pairs = (adj.join(F.broadcast(du), F.col("u") == F.col("su"))
             .join(F.broadcast(dv), F.col("v") == F.col("sv")))
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"))
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
           ).cast("double")
    r = num / F.sqrt(vx.cast("double") * vy.cast("double"))
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.floor(r * 1000000).cast("long").alias("assortativity_micro"))


ASSORTATIVITY_SQL = f"""
WITH {_EDGE_SQL},
deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
p AS (
  SELECT du.deg AS x, dv.deg AS y
  FROM adj JOIN deg du ON du.u = adj.u JOIN deg dv ON dv.u = adj.v
),
s AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sx2,
         CAST(sum(y * y) AS BIGINT) AS sy2
  FROM p
)
SELECT n AS n_directed_edges,
       CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
                         * CAST(n * sy2 - sy * sy AS DOUBLE))
                  * 1000000) AS BIGINT) AS assortativity_micro
FROM s
"""


QUERIES["graph_degree_assortativity"] = (graph_degree_assortativity,
                                         ASSORTATIVITY_SQL)


_LPA_ROUNDS = 3


def _lpa_labels(adj: DataFrame) -> DataFrame:
    """(u, l), pinned: min node id within ``_LPA_ROUNDS`` hops of u — the
    min-label propagation ladder over adjacency (u, v).  Each round
    reads the previous generation twice (the union side and the join
    side), so it runs on operators/pin.iterate (a lazy ladder
    re-executes ~2^rounds times: measured 6.3–7.5 s lazy vs 3.8–4.0 s
    checkpointed)."""
    def step(labels: DataFrame) -> DataFrame:
        nbr = (adj.join(labels.withColumnRenamed("u", "v"), "v")
               .select("u", "l"))
        return (labels.unionByName(nbr)
                .groupBy("u").agg(F.min("l").alias("l")))

    return iterate(adj.select("u").distinct()
                   .select("u", F.col("u").alias("l")),
                   step, _LPA_ROUNDS)


def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection by min-label propagation over the
    co-purchase graph: every node starts labeled with its own id; each
    round every node takes the minimum label in its closed
    neighborhood.  After k rounds label(u) = min node id within k hops
    — a deterministic, engine-exact fixed point ladder (full
    convergence = connected components, the entity_resolution_parts
    machinery; a FIXED round count keeps the oracle an unrolled CTE,
    the tokenizer_bpe_train discipline).  Output: the community-size
    histogram (size, n_communities) plus singleton-free totals — the
    shape that tells a curation pipeline whether near-dup communities
    are a long tail or a few giant blobs.

    Scale shape: each round is one equi-join frontier (adj ⋈ labels,
    shuffle on node id) + one map-side-combined min aggregation over
    checkpointed generations (:func:`_lpa_labels`)."""
    e = pin(_edges(spark, sf))
    labels = _lpa_labels(_adj(e))
    release(e)
    sizes = labels.groupBy("l").agg(F.count(F.lit(1)).alias("size"))
    return (sizes.groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_communities"))
            .orderBy("size"))


def _lpa_iter_sql(i: int) -> str:
    return f"""
l{i} AS MATERIALIZED (
  SELECT u, min(l) AS l FROM (
    SELECT u, l FROM l{i - 1}
    UNION ALL
    SELECT a.u, p.l FROM adj a JOIN l{i - 1} p ON p.u = a.v
  ) GROUP BY u
)"""


LABEL_PROP_SQL = f"""
WITH {_EDGE_SQL},
l0 AS MATERIALIZED (
  SELECT u, u AS l FROM (SELECT DISTINCT u FROM adj)
),
{",".join(_lpa_iter_sql(i + 1) for i in range(_LPA_ROUNDS))},
sizes AS (
  SELECT l, count(*) AS size FROM l{_LPA_ROUNDS} GROUP BY l
)
SELECT size, count(*) AS n_communities
FROM sizes GROUP BY size ORDER BY size
"""


QUERIES["graph_label_propagation"] = (graph_label_propagation,
                                      LABEL_PROP_SQL)


_HITS_PPM = 1000000


def graph_hits(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs & authorities over the directed customer->part
    purchase graph (Kleinberg 1999): two power-iteration rounds with
    integer ppm re-normalization after every half-step (score * 1e6
    div max — the quantized-iteration discipline of
    embedding_pca_power_iteration, so every intermediate is an exact
    BIGINT both engines reproduce).  Hubs are customers whose baskets
    concentrate on high-authority parts; authorities are parts bought
    by strong hubs.  Returns the top-15 of each role.

    Scale: each half-step is one equi-join (edges x scores, shuffle on
    the score key) + a map-side-combined sum; normalization is a 1-row
    broadcast.  Growth stays bounded by the ppm clamp (max score 1e6,
    so a sum fits BIGINT up to degree ~9e6; drop the scale to 1e3 per
    round beyond that).  Top-k is a TakeOrdered, never a global sort."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = pin(li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .select(F.col("o_custkey").alias("c"),
                        F.col("l_partkey").alias("p"))
                .distinct())

    def norm(s: DataFrame, key: str) -> DataFrame:
        # ppm re-normalization of a pinned half-step: the max broadcast
        # and the probe side both read the pin, never the join below it
        return (s.crossJoin(F.broadcast(s.agg(F.max("s").alias("m"))))
                .select(key, F.expr(f"s * {_HITS_PPM} div m").alias("s")))

    def half(prev: DataFrame) -> DataFrame:
        # one half-step: Σ of the other side's normalized scores per key
        on = prev.columns[0]
        key = "c" if on == "p" else "p"
        return (edges.join(norm(prev, on), on)
                .groupBy(key).agg(F.sum("s").alias("s")))

    # a1 → h1 → a2 is one ladder; h2 is pinned off a2, and both stay
    # for the two top-k reads, which no longer read the edges
    a2 = iterate(edges.groupBy("p").agg(F.count(F.lit(1)).alias("s")),
                 half, 2)
    h2 = pin(half(a2))
    release(edges)
    top_a = (norm(a2, "p").orderBy(F.desc("s"), "p").limit(15)
             .select(F.lit("authority").alias("role"),
                     F.col("p").alias("node_id"),
                     F.col("s").alias("score_ppm")))
    top_h = (norm(h2, "c").orderBy(F.desc("s"), "c").limit(15)
             .select(F.lit("hub").alias("role"),
                     F.col("c").alias("node_id"),
                     F.col("s").alias("score_ppm")))
    return (top_a.unionByName(top_h)
            .orderBy("role", F.desc("score_ppm"), "node_id"))


HITS_SQL = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM edges GROUP BY p),
a1n AS MATERIALIZED (SELECT p, CAST(s * {_HITS_PPM} // (SELECT max(s) FROM a1)
                       AS BIGINT) AS s FROM a1),
h1 AS (SELECT c, CAST(sum(a1n.s) AS BIGINT) AS s
       FROM edges JOIN a1n USING (p) GROUP BY c),
h1n AS MATERIALIZED (SELECT c, CAST(s * {_HITS_PPM} // (SELECT max(s) FROM h1)
                       AS BIGINT) AS s FROM h1),
a2 AS (SELECT p, CAST(sum(h1n.s) AS BIGINT) AS s
       FROM edges JOIN h1n USING (c) GROUP BY p),
a2n AS MATERIALIZED (SELECT p, CAST(s * {_HITS_PPM} // (SELECT max(s) FROM a2)
                       AS BIGINT) AS s FROM a2),
h2 AS (SELECT c, CAST(sum(a2n.s) AS BIGINT) AS s
       FROM edges JOIN a2n USING (p) GROUP BY c),
h2n AS MATERIALIZED (SELECT c, CAST(s * {_HITS_PPM} // (SELECT max(s) FROM h2)
                       AS BIGINT) AS s FROM h2)
SELECT * FROM (
  (SELECT 'authority' AS role, p AS node_id, s AS score_ppm
   FROM a2n ORDER BY s DESC, p LIMIT 15)
  UNION ALL
  (SELECT 'hub' AS role, c AS node_id, s AS score_ppm
   FROM h2n ORDER BY s DESC, c LIMIT 15))
ORDER BY role, score_ppm DESC, node_id
"""


QUERIES["graph_hits"] = (graph_hits, HITS_SQL)


def graph_clustering_coefficient(spark: SparkSession, sf: str) -> DataFrame:
    """Global + mean-local clustering coefficient of the co-purchase
    graph: global = 3·triangles / wedges (wedges = Σ deg·(deg−1)/2,
    exact BIGINT), local(u) = 2·tri(u) / (deg_u·(deg_u−1)) floored to
    micros per node before the mean (deterministic both engines).
    Triangles come from the (deg,id) compact-forward wedge join
    (_triangles_degree_oriented — each triangle generated exactly
    once, wedge work bounded by Σ C(outdeg,2) = O(m^1.5); the triangle
    SET is orientation-independent, so corner counts are unchanged),
    and per-node counts from a 3-way stack of the triangle corners.

    Scale: the degree orientation IS the 100 TB path (r6 verdict #3 —
    previously prose, now the executed plan); everything after the
    triangle join is node-sized."""
    e = pin(_edges(spark, sf))
    # oe is shared by the triangle join's three self-references
    # (a1/a2/e3), and deg comes from the same helper instead of a
    # second _adj aggregation
    oe, deg = _degree_oriented_edges(e)
    oe = pin(oe)
    # r11 (guide §1.2): n_triangles no longer needs its own
    # materializing tri.count() action — every triangle contributes
    # exactly 3 corner rows, and every corner has deg ≥ 2 (its two
    # co-triangle neighbors are distinct), so Σ t over the local rows
    # is exactly 3·n_tri and the count folds into the node-level
    # aggregate the query already runs.  Drops the persisted triangle
    # table and one full wedge-join action; the wedge join now runs
    # once, streamed straight into the corner aggregate.
    tri = _triangles_from_oriented(oe)
    corners = tri.selectExpr("stack(3, a, b, c) as (u)")
    t_u = corners.groupBy("u").agg(F.count(F.lit(1)).alias("t"))
    local = (deg.filter(F.col("deg") >= 2)
             .join(t_u, "u", "left").fillna(0, subset=["t"])
             .select(F.col("t"),
                     F.floor(F.col("t") * 2000000
                             / (F.col("deg") * (F.col("deg") - 1)))
                     .cast("long").alias("cc")))
    stats = local.agg(F.count(F.lit(1)).alias("n_nodes_deg2"),
                      F.sum("cc").alias("cc_sum"),
                      F.coalesce(F.sum("t"), F.lit(0)).alias("t_sum"))
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1)).alias("w2"))
    n_tri = F.expr("t_sum div 3").cast("long")
    return (stats.crossJoin(F.broadcast(wedges))
            .select(
                n_tri.alias("n_triangles"),
                (F.col("w2") / 2).cast("long").alias("n_wedges"),
                "n_nodes_deg2",
                F.floor(n_tri * 6000000 / F.col("w2"))
                .cast("long").alias("global_cc_micro"),
                F.floor(F.col("cc_sum") / F.col("n_nodes_deg2"))
                .cast("long").alias("avg_local_cc_micro")))


CLUSTERING_SQL = f"""
WITH {_EDGE_SQL},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u),
oe AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
              THEN e.pa ELSE e.pb END AS src,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
              THEN e.pb ELSE e.pa END AS dst,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
              THEN db.deg ELSE da.deg END AS dst_deg
  FROM e JOIN deg da ON da.u = e.pa JOIN deg db ON db.u = e.pb),
tri AS (
  SELECT a1.src AS a, a1.dst AS b, a2.dst AS c
  FROM oe a1 JOIN oe a2 ON a1.src = a2.src
   AND (a1.dst_deg < a2.dst_deg
        OR (a1.dst_deg = a2.dst_deg AND a1.dst < a2.dst))
  JOIN oe e3 ON e3.src = a1.dst AND e3.dst = a2.dst
),
corners AS (
  SELECT a AS u FROM tri UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
t_u AS (SELECT u, CAST(count(*) AS BIGINT) AS t FROM corners GROUP BY u),
local AS (
  SELECT CAST(floor(coalesce(t, 0) * 2000000
                    / (deg * (deg - 1))) AS BIGINT) AS cc
  FROM deg LEFT JOIN t_u USING (u) WHERE deg >= 2
),
stats AS (
  SELECT count(*) AS n_nodes_deg2, CAST(sum(cc) AS BIGINT) AS cc_sum
  FROM local
),
w AS (SELECT CAST(sum(deg * (deg - 1)) AS BIGINT) AS w2 FROM deg),
ntri AS (SELECT CAST(count(*) AS BIGINT) AS n_tri FROM tri)
SELECT n_tri AS n_triangles,
       CAST(w2 / 2 AS BIGINT) AS n_wedges,
       n_nodes_deg2,
       CAST(floor(n_tri * 6000000 / w2) AS BIGINT) AS global_cc_micro,
       CAST(floor(cc_sum / n_nodes_deg2) AS BIGINT)
         AS avg_local_cc_micro
FROM stats, w, ntri
"""


QUERIES["graph_clustering_coefficient"] = (graph_clustering_coefficient,
                                           CLUSTERING_SQL)


def _degree_oriented_edges(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(deg,id)-oriented edges of the co-purchase graph.

    Returns (oe, deg): oe(src,dst,dst_deg) with every undirected edge
    stored once, pointing from the endpoint with the smaller
    (degree, id) pair to the larger; deg(u,deg) exact BIGINT degrees.
    This is the compact-forward orientation (Latapy 2008): out-degree
    under it is at most O(sqrt(m)), so a wedge join from a shared
    source does Σ C(outdeg,2) = O(m^1.5) work regardless of hubs —
    the 100 TB mitigation SCALE.md prescribes for the triangle family
    (vs the id orientation, whose out-degree is unbounded at hubs).
    """
    deg = _adj(e).groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    da, db = deg.alias("da"), deg.alias("db")
    a_first = (F.col("da.deg") < F.col("db.deg")) | (
        (F.col("da.deg") == F.col("db.deg")) & (F.col("pa") < F.col("pb")))
    oe = (e.join(da, F.col("da.u") == F.col("pa"))
          .join(db, F.col("db.u") == F.col("pb"))
          .select(F.when(a_first, F.col("pa")).otherwise(F.col("pb"))
                  .alias("src"),
                  F.when(a_first, F.col("pb")).otherwise(F.col("pa"))
                  .alias("dst"),
                  F.when(a_first, F.col("db.deg"))
                  .otherwise(F.col("da.deg")).alias("dst_deg")))
    return oe, deg


def _triangles_degree_oriented(e: DataFrame) -> DataFrame:
    """Each triangle {x,y,z} with rank x<y<z (rank = (deg,id)) exactly
    once as (a,b,c) = (x,y,z): wedge join of the two out-edges of x
    with rank(y) < rank(z), closed by the oriented edge y→z."""
    oe, _ = _degree_oriented_edges(e)
    return _triangles_from_oriented(oe)


def _triangles_from_oriented(oe: DataFrame) -> DataFrame:
    """The triangle wedge-close join over an ALREADY-oriented edge
    table — split out (r10) so callers that also need oe for degree
    stats can pin and share one evaluation."""
    a1, a2, e3 = oe.alias("a1"), oe.alias("a2"), oe.alias("e3")
    rank_lt = (F.col("a1.dst_deg") < F.col("a2.dst_deg")) | (
        (F.col("a1.dst_deg") == F.col("a2.dst_deg"))
        & (F.col("a1.dst") < F.col("a2.dst")))
    return (a1.join(a2, (F.col("a1.src") == F.col("a2.src")) & rank_lt)
            .join(e3, (F.col("e3.src") == F.col("a1.dst"))
                  & (F.col("e3.dst") == F.col("a2.dst")))
            .select(F.col("a1.src").alias("a"),
                    F.col("a1.dst").alias("b"),
                    F.col("a2.dst").alias("c")))


def graph_triangles_degree_oriented(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count via the (deg,id) compact-forward orientation,
    reported next to the wedge-work bound it buys: Σ C(outdeg,2) under
    the degree orientation vs under the naive id orientation, plus the
    max out-degree of each.  The degree-oriented wedge count is the
    number of candidate pairs the triangle join actually probes — the
    quantity that stays O(m^1.5) at 100 TB while the id-oriented one
    grows with the square of the biggest hub.  Closes the r6 verdict's
    prose-vs-code gap (SCALE.md "degree-then-id orientation"): the
    switch is now a registered plan, and graph_clustering_coefficient
    routes its triangle stage through the same helper.

    Reference parity: triangle semantics as graph_triangles
    (relational10.py — streams/metrics.go-style derived diagnostics);
    orientation is the standard compact-forward bound, public
    literature (PAPERS.md graph section).
    """
    e = pin(_edges(spark, sf))
    # oe is built once and read four times (a1/a2/e3 + out_deg)
    oe, _ = _degree_oriented_edges(e)
    oe = pin(oe)
    n_tri = (_triangles_from_oriented(oe)
             .agg(F.count(F.lit(1)).alias("n")))
    out_deg = oe.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    deg_stats = out_deg.agg(
        F.sum(F.col("od") * (F.col("od") - 1) / 2).cast("long").alias("w"),
        F.max("od").alias("mx"))
    out_id = e.groupBy("pa").agg(F.count(F.lit(1)).alias("od"))
    id_stats = out_id.agg(
        F.sum(F.col("od") * (F.col("od") - 1) / 2).cast("long").alias("w"),
        F.max("od").alias("mx"))
    row = (n_tri.crossJoin(F.broadcast(deg_stats.alias("d")))
           .crossJoin(F.broadcast(id_stats.alias("i"))))
    return row.selectExpr(
        "stack(5, 'n_triangles', n, "
        "'wedges_degree_oriented', d.w, "
        "'max_outdeg_degree_oriented', CAST(d.mx AS BIGINT), "
        "'wedges_id_oriented', i.w, "
        "'max_outdeg_id_oriented', CAST(i.mx AS BIGINT)) "
        "AS (metric, value)").orderBy("metric")


TRI_DEG_ORIENTED_SQL = f"""
WITH {_EDGE_SQL},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u),
oe AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
              THEN e.pa ELSE e.pb END AS src,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
              THEN e.pb ELSE e.pa END AS dst,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
              THEN db.deg ELSE da.deg END AS dst_deg
  FROM e JOIN deg da ON da.u = e.pa JOIN deg db ON db.u = e.pb),
tri AS (
  SELECT a1.src AS a, a1.dst AS b, a2.dst AS c
  FROM oe a1 JOIN oe a2 ON a1.src = a2.src
   AND (a1.dst_deg < a2.dst_deg
        OR (a1.dst_deg = a2.dst_deg AND a1.dst < a2.dst))
  JOIN oe e3 ON e3.src = a1.dst AND e3.dst = a2.dst),
ds AS (SELECT CAST(sum(od * (od - 1) / 2) AS BIGINT) AS w,
              CAST(max(od) AS BIGINT) AS mx
       FROM (SELECT src, count(*) AS od FROM oe GROUP BY src)),
ids AS (SELECT CAST(sum(od * (od - 1) / 2) AS BIGINT) AS w,
               CAST(max(od) AS BIGINT) AS mx
        FROM (SELECT pa, count(*) AS od FROM e GROUP BY pa)),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tri)
SELECT metric, value FROM (
  SELECT 'n_triangles' AS metric, n AS value FROM n
  UNION ALL SELECT 'wedges_degree_oriented', w FROM ds
  UNION ALL SELECT 'max_outdeg_degree_oriented', mx FROM ds
  UNION ALL SELECT 'wedges_id_oriented', w FROM ids
  UNION ALL SELECT 'max_outdeg_id_oriented', mx FROM ids)
ORDER BY metric
"""


QUERIES["graph_triangles_degree_oriented"] = (
    graph_triangles_degree_oriented, TRI_DEG_ORIENTED_SQL)


def graph_rich_club(spark: SparkSession, sf: str) -> DataFrame:
    """Rich-club coefficient phi(k) = 2·E_k / (N_k(N_k−1)) of the
    co-purchase graph at degree thresholds k ∈ {2, 4, 8, 16, 32}: do
    high-degree parts preferentially co-occur with each other?  (The
    hub-interconnection diagnostic behind assortativity — compare
    graph_degree_assortativity's single summary number.)

    One pass over the edge list joined with both endpoint degrees:
    E_k is a conditional count (min(deg_a, deg_b) > k for all five
    thresholds simultaneously), N_k a conditional count on the degree
    table — no per-k re-scan, no pair enumeration beyond the existing
    edges.

    r10 (guide §2.4): the pair build rides the shared basket-array
    _edges (one lineitem shuffle) instead of the inlined distinct +
    self-join this query kept (three lineitem exchanges); the edge set
    is identical, and the r6 no-persist verdict still holds — e's
    multiple references collapse under ReusedExchange at runtime."""
    e = _edges(spark, sf)
    deg = (_adj(e).groupBy(F.col("u").alias("p"))
           .agg(F.count(F.lit(1)).alias("deg")))
    ks = [2, 4, 8, 16, 32]
    ej = (e.join(deg.withColumnRenamed("p", "pa")
                 .withColumnRenamed("deg", "da"), "pa")
          .join(deg.withColumnRenamed("p", "pb")
                .withColumnRenamed("deg", "db"), "pb"))
    e_counts = ej.agg(*[
        F.sum(F.when((F.col("da") > k) & (F.col("db") > k), 1)
              .otherwise(0)).alias(f"e_{k}") for k in ks])
    n_counts = deg.agg(*[
        F.sum(F.when(F.col("deg") > k, 1).otherwise(0)).alias(f"n_{k}")
        for k in ks])
    wide = e_counts.crossJoin(F.broadcast(n_counts))
    rows = wide.selectExpr(
        "stack(" + str(len(ks)) + ", "
        + ", ".join(f"{k}, e_{k}, n_{k}" for k in ks)
        + ") as (k, n_edges, n_nodes)")
    phi = F.when(
        F.col("n_nodes") >= 2,
        F.floor(F.col("n_edges") * 2 * F.lit(1000000)
                / (F.col("n_nodes") * (F.col("n_nodes") - 1)))
        .cast("long"))
    return rows.select("k", "n_nodes", "n_edges",
                       phi.alias("phi_micro")).orderBy("k")


RICH_CLUB_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
deg AS (
  SELECT p, count(*) AS deg FROM (
    SELECT pa AS p FROM e UNION ALL SELECT pb FROM e)
  GROUP BY p
),
ej AS (
  SELECT e.pa, e.pb, da.deg AS da, db.deg AS db
  FROM e JOIN deg da ON e.pa = da.p JOIN deg db ON e.pb = db.p
),
ks AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
rows_ AS (
  SELECT k,
         (SELECT count(*) FROM deg WHERE deg > k) AS n_nodes,
         (SELECT count(*) FROM ej WHERE da > k AND db > k) AS n_edges
  FROM ks
)
SELECT CAST(k AS INTEGER) AS k, CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CASE WHEN n_nodes >= 2
            THEN CAST(floor(n_edges * 2 * 1000000
                            / (n_nodes * (n_nodes - 1))) AS BIGINT)
            END AS phi_micro
FROM rows_ ORDER BY k
"""


QUERIES["graph_rich_club"] = (graph_rich_club, RICH_CLUB_SQL)


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-undirected-edge triangle support: every triangle from the
    degree-oriented enumeration (each counted exactly once) is exploded
    to its 3 canonical (min-id, max-id) edges and counted.  The wedge
    work stays inside the compact-forward O(m^1.5) bound — the naive
    common-neighbor join per edge would be hub-quadratic."""
    tri = _triangles_degree_oriented(e)
    pairs = tri.select(F.explode(F.array(
        F.struct(F.least("a", "b").alias("x"),
                 F.greatest("a", "b").alias("y")),
        F.struct(F.least("a", "c").alias("x"),
                 F.greatest("a", "c").alias("y")),
        F.struct(F.least("b", "c").alias("x"),
                 F.greatest("b", "c").alias("y")))).alias("p")
    ).select("p.x", "p.y")
    return pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("sup"))


def graph_ktruss(spark: SparkSession, sf: str) -> DataFrame:
    """4-truss peeling of the co-purchase graph, 2 rounds: an edge
    survives a round iff it participates in >= k-2 = 2 triangles among
    the surviving edges — the standard cohesion refinement between
    triangle counting and cliques (a k-truss is a (k-1)-core of the
    triangle graph).  Fixed 2-round unroll (the bounded-iteration
    discipline of graph_hits/label_propagation); output reports
    edges_in -> edges_kept per round so convergence is visible.

    Scale: each round is one degree-oriented triangle enumeration
    (O(m^1.5) wedge bound, see _degree_oriented_edges) + an edge-keyed
    agg + a broadcast-sized semi-join back onto the edge list; rounds
    are pinned so lineage never re-derives round 1 inside round 2."""
    k_minus_2 = 2
    e0 = pin(_edges(spark, sf))

    def peel(e: DataFrame) -> DataFrame:
        sup = _edge_support(e)
        return (e.join(sup, (F.col("pa") == F.col("x"))
                       & (F.col("pb") == F.col("y")), "left")
                .filter(F.coalesce(F.col("sup"), F.lit(0)) >= k_minus_2)
                .select("pa", "pb"))

    # a pin per peel generation: round 2 references round 1's whole
    # pipeline many times (the audited unrolled lineage was ~12.7k
    # exchanges), and e0/e1 are each read several times by the caller's
    # one action (peel + both round counts)
    e1 = pin(peel(e0))
    e2 = peel(e1)
    s1 = (e0.agg(F.count(F.lit(1)).alias("edges_in"))
          .crossJoin(e1.agg(F.count(F.lit(1)).alias("edges_kept")))
          .select(F.lit(1).cast("int").alias("round"),
                  "edges_in", "edges_kept"))
    s2 = (e1.agg(F.count(F.lit(1)).alias("edges_in"))
          .crossJoin(e2.agg(F.count(F.lit(1)).alias("edges_kept")))
          .select(F.lit(2).cast("int").alias("round"),
                  "edges_in", "edges_kept"))
    return s1.unionAll(s2).orderBy("round")


KTRUSS_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj0 AS (SELECT pa AS u, pb AS v FROM e0
         UNION ALL SELECT pb, pa FROM e0),
sup0 AS (
  SELECT e.pa, e.pb, count(*) AS sup
  FROM e0 e
  JOIN adj0 x ON x.u = e.pa
  JOIN adj0 y ON y.u = e.pb AND y.v = x.v
  GROUP BY 1, 2
),
e1 AS (
  SELECT e.pa, e.pb FROM e0 e
  JOIN sup0 s ON s.pa = e.pa AND s.pb = e.pb AND s.sup >= 2
),
adj1 AS (SELECT pa AS u, pb AS v FROM e1
         UNION ALL SELECT pb, pa FROM e1),
sup1 AS (
  SELECT e.pa, e.pb, count(*) AS sup
  FROM e1 e
  JOIN adj1 x ON x.u = e.pa
  JOIN adj1 y ON y.u = e.pb AND y.v = x.v
  GROUP BY 1, 2
),
e2 AS (
  SELECT e.pa, e.pb FROM e1 e
  JOIN sup1 s ON s.pa = e.pa AND s.pb = e.pb AND s.sup >= 2
)
SELECT CAST(1 AS INT) AS round,
       (SELECT count(*) FROM e0) AS edges_in,
       (SELECT count(*) FROM e1) AS edges_kept
UNION ALL
SELECT CAST(2 AS INT),
       (SELECT count(*) FROM e1),
       (SELECT count(*) FROM e2)
ORDER BY round
"""


QUERIES["graph_ktruss"] = (graph_ktruss, KTRUSS_SQL)


def graph_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity Q of the min-label-propagation partition
    (the SAME 3-round ladder as graph_label_propagation) over the
    co-purchase graph — the "was that clustering any good?" number:
    Q = sum_c [e_c/m - (d_c/2m)^2] with e_c intra-community edges,
    d_c the community degree sum, m total edges.  Multiplying through
    by 4m^2 keeps EVERYTHING integer: Q = sum_c (4m*e_c - d_c^2)
    / (4m^2), one micro-floored division at the end — no doubles
    anywhere, so both engines agree bit-for-bit.

    Scale: the LPA rounds are the registered query's checkpointed
    generations; e_c is one edges-to-labels double equi-join; d_c one
    degree join; the community table is node-bounded."""
    e = pin(_edges(spark, sf))
    adj = _adj(e)
    labels = _lpa_labels(adj)
    la = labels.select(F.col("u").alias("pa"), F.col("l").alias("l1"))
    lb = labels.select(F.col("u").alias("pb"), F.col("l").alias("l2"))
    ec = (e.join(la, "pa").join(lb, "pb")
          .filter(F.col("l1") == F.col("l2"))
          .groupBy(F.col("l1").alias("l"))
          .agg(F.count(F.lit(1)).alias("e_c")))
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    dc = (deg.join(labels, "u")
          .groupBy("l").agg(F.sum("deg").alias("d_c")))
    m_tot = e.agg(F.count(F.lit(1)).alias("m"))
    _D = "decimal(38,0)"
    per_c = (dc.join(ec, "l", "left")
             .select("l", "d_c",
                     F.coalesce("e_c", F.lit(0)).alias("e_c")))
    terms = (per_c.crossJoin(F.broadcast(m_tot))
             .select(
                 (F.lit(4).cast(_D) * F.col("m").cast(_D)
                  * F.col("e_c").cast(_D)
                  - F.col("d_c").cast(_D) * F.col("d_c").cast(_D))
                 .alias("num"), "m", "e_c"))
    s = terms.groupBy("m").agg(
        F.sum("num").alias("num_sum"),
        F.count(F.lit(1)).alias("n_communities"),
        F.sum("e_c").alias("intra_edges"))
    return s.select(
        F.col("m").alias("n_edges"), "n_communities",
        F.col("intra_edges").cast("long").alias("intra_edges"),
        F.floor(F.col("num_sum").cast("double") * 1000000.0
                / (4.0 * F.col("m").cast("double")
                   * F.col("m").cast("double")))
        .cast("long").alias("modularity_micro"))


MODULARITY_SQL = f"""
WITH {_EDGE_SQL},
l0 AS MATERIALIZED (
  SELECT u, u AS l FROM (SELECT DISTINCT u FROM adj)
),
{",".join(_lpa_iter_sql(i + 1) for i in range(_LPA_ROUNDS))},
labels AS (SELECT u, l FROM l{_LPA_ROUNDS}),
ec AS (
  SELECT la.l AS l, count(*) AS e_c
  FROM e JOIN labels la ON la.u = e.pa
         JOIN labels lb ON lb.u = e.pb
  WHERE la.l = lb.l
  GROUP BY 1
),
deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
dc AS (
  SELECT lb.l, CAST(sum(d.deg) AS BIGINT) AS d_c
  FROM deg d JOIN labels lb ON lb.u = d.u
  GROUP BY 1
),
m_tot AS (SELECT count(*) AS m FROM e),
per_c AS (
  SELECT dc.l, dc.d_c, COALESCE(ec.e_c, 0) AS e_c
  FROM dc LEFT JOIN ec ON ec.l = dc.l
),
s AS (
  SELECT m, sum(CAST(4 AS HUGEINT) * m * e_c
                - CAST(d_c AS HUGEINT) * d_c) AS num_sum,
         count(*) AS n_communities,
         CAST(sum(e_c) AS BIGINT) AS intra_edges
  FROM per_c CROSS JOIN m_tot
  GROUP BY m
)
SELECT m AS n_edges, n_communities, intra_edges,
       CAST(floor(CAST(num_sum AS DOUBLE) * 1000000.0
                  / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
            AS BIGINT) AS modularity_micro
FROM s
"""


QUERIES["graph_modularity"] = (graph_modularity, MODULARITY_SQL)
