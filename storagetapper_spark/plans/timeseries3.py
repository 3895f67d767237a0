"""Query batch: time-series completeness (round 4) — gap-filled daily
rollups with LOCF, event-type transition matrix, rank-distribution
windows, and regression aggregates.

Scale notes: the gap-fill spine is generated per GROUP with
``sequence()`` + ``explode`` (array bounded by the date range — never a
driver loop, never a cross join against a materialized calendar table);
LOCF is one window per group ordered by day.  Transitions are a single
``lag`` window partitioned by user — state is one row.  The
distribution windows run per returnflag partition with a total
ordering, so ranks are engine-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import events_t, t


# --- gap-filled daily rollup with LOCF -----------------------------------

def gapfill_daily_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Daily event counts per type over a complete calendar spine
    (days with no events appear with n_events=0), with the average
    value carried forward from the last non-empty day (LOCF) — the
    canonical time-series 'make the series dense' operator
    (hypertable/rollup-style engines ship this as time_bucket_gapfill +
    locf)."""
    ev = t(spark, sf, "events")
    # r10 (guide §5/§1.2): daily is pinned and the calendar bounds +
    # type list fold out of it (min(day) over the rollup == min(ts)::date
    # because day = to_date(ts) is monotone in the date, and every type
    # with an event has a daily row) — ONE events scan instead of three.
    daily = pin(ev.groupBy("event_type", F.to_date(F.date_trunc(
                    "DAY", F.col("ts"))).alias("day"))
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       # portable exact mean: exact BIGINT cents sum +
                       # shared double divisions, NO round on the
                       # quotient.  A raw double avg's partial order
                       # varies per run (the round-8 rfm flake); decimal
                       # avg diverges at half boundaries (DuckDB routes
                       # through double, observed 38.37875 → .3788 vs
                       # .3787); BIGINT→double is the one portable cast.
                       (F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
                        .cast("double") / F.count(F.lit(1)) / 100.0)
                       .alias("avg_value")))
    bounds = daily.agg(F.min("day").alias("d0"),
                       F.max("day").alias("d1"))
    types = daily.select("event_type").distinct()
    spine = (types.crossJoin(F.broadcast(bounds))
                  .select("event_type",
                          F.explode(F.sequence(
                              F.col("d0"), F.col("d1"),
                              F.expr("INTERVAL 1 DAY"))).alias("day")))
    w = (Window.partitionBy("event_type").orderBy("day")
               .rowsBetween(Window.unboundedPreceding, 0))
    return (spine.join(daily, ["event_type", "day"], "left")
                 .select("event_type", "day",
                         F.coalesce("n_events", F.lit(0)).alias("n_events"),
                         F.last("avg_value", ignorenulls=True).over(w)
                          .alias("locf_avg_value"))
                 .orderBy("event_type", "day"))


GAPFILL_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / count(*) / 100.0 AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(ts)::DATE AS d0, max(ts)::DATE AS d1 FROM events
), spine AS (
  SELECT t.event_type, unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
  FROM (SELECT DISTINCT event_type FROM events) t, bounds b
)
SELECT s.event_type, s.day,
       CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
       last_value(d.avg_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_avg_value
FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
ORDER BY s.event_type, s.day
"""


# --- event-type transition matrix ----------------------------------------

def event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order transition counts between consecutive events of the
    same user (the Markov-chain view of user behavior).  One lag window
    per user — the shuffle is keyed on user_id and each partition holds
    one user's ordered events."""
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select("user_id", "ts", "event_id", "event_type")
              .withColumn("prev_type", F.lag("event_type").over(w))
              .filter(F.col("prev_type").isNotNull())
              .groupBy("prev_type", F.col("event_type").alias("next_type"))
              .agg(F.count(F.lit(1)).alias("n_transitions"))
              .orderBy("prev_type", "next_type"))


TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
"""


# --- rank-distribution window functions ----------------------------------

def window_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over a TOTAL ordering (price,
    then PK) per returnflag — the remaining §2.6 window-function family.
    The total ordering makes every rank engine-deterministic.

    Scale design (two-pass rank — l_returnflag has cardinality 3, so a
    naive PARTITION BY flag window is a ~33-TB single-task sort at
    100 TB): rows are range-bucketed by price (monotone in the leading
    sort key; equal prices share a bucket so the (flag, bucket) order +
    in-bucket order IS the total order), pass 1 computes row_number per
    (flag, bucket) in parallel, pass 2 turns per-bucket counts into
    carry-in offsets (a window over #flags x #buckets rows) and
    broadcast-joins them back — see operators/ranks.py.  Because the
    ordering is total (unique PK tiebreak), every row is its own peer
    group, so percent_rank = (rank-1)/(n-1), cume_dist = rank/n, and
    ntile(4) is the standard ceil/floor split from rank — bit-identical
    to the window-function forms.  At 100 TB swap the fixed bucket
    width for approx-quantile cutpoints to equalize bucket volume."""
    from storagetapper_spark.operators.ranks import (ntile_from_rank,
                                                     two_pass_rank)

    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    ranked = two_pass_rank(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"],
        F.floor(F.col("l_extendedprice") / F.lit(2000.0)),
        partition=["l_returnflag"])
    rank, n = F.col("_rank"), F.col("_n")
    return ranked.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
        ntile_from_rank(rank, n, 4).alias("price_quartile"),
        F.round(F.when(n == 1, F.lit(0.0)).otherwise((rank - 1) / (n - 1)),
                6).alias("pct_rank"),
        F.round(rank / n, 6).alias("cume"))


WINDOW_DIST_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
       CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
"""


# --- regression / correlation aggregates ---------------------------------

def agg_regression(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-regression aggregates (slope/intercept/r2/corr) of price
    vs quantity per returnflag — single-pass partial-aggregable moments
    (each is a combination of sums Spark computes map-side)."""
    li = t(spark, sf, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (li.groupBy("l_returnflag")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.corr(x, y), 4).alias("corr_qty_price"),
                   F.round(F.regr_slope(y, x), 4).alias("slope"),
                   F.round(F.regr_intercept(y, x), 4).alias("intercept"),
                   F.round(F.regr_r2(y, x), 4).alias("r2"))
              .orderBy("l_returnflag"))


AGG_REGRESSION_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- trailing-window anomaly detection -----------------------------------

def anomaly_daily_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Volume-anomaly detection: flag days whose event count deviates
    from the trailing 7-day mean by more than 2 trailing standard
    deviations (the ops-alerting staple).  The trailing stats are one
    ROWS-frame window per event_type ordered by day — partial sums, no
    self-join, no cross-day shuffle beyond the per-type partition.
    The flag compares round-4 values so boundary membership is
    engine-deterministic."""
    ev = t(spark, sf, "events")
    daily = (ev.groupBy("event_type",
                        F.to_date(F.date_trunc("DAY", F.col("ts"))).alias("day"))
               .agg(F.count(F.lit(1)).alias("n_events")))
    w = (Window.partitionBy("event_type").orderBy("day")
               .rowsBetween(-7, -1))
    mu = F.avg("n_events").over(w)
    sd = F.stddev_samp("n_events").over(w)
    n_prior = F.count("n_events").over(w)
    return (daily.select(
                "event_type", "day", "n_events",
                F.round(mu, 4).alias("trailing_mean"),
                F.round(sd, 4).alias("trailing_std"),
                ((n_prior >= 7) & (sd > 0)
                 & (F.abs(F.col("n_events") - F.round(mu, 4))
                    > 2 * F.round(sd, 4))).alias("is_anomaly"))
            .orderBy("event_type", "day"))


ANOMALY_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, day, n_events,
         avg(n_events) OVER w AS mu,
         stddev_samp(n_events) OVER w AS sd,
         count(n_events) OVER w AS n_prior
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n_events,
       round(mu, 4) AS trailing_mean,
       round(sd, 4) AS trailing_std,
       (n_prior >= 7 AND sd > 0
        AND abs(n_events - round(mu, 4)) > 2 * round(sd, 4)) AS is_anomaly
FROM stats
ORDER BY event_type, day
"""




def session_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Behavioral path analysis: the ordered event-type journey of each
    session (30-min-gap sessionization, same derivation as `sessionize`),
    frequency-ranked.  The ordered per-session path is built JVM-side by
    sorting (ts, event_id, type) structs inside the group — no window
    re-shuffle beyond the sessionize one, no Python."""
    ev = events_t(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double"), 1).over(w)
    tagged = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = tagged.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    paths = (sess.groupBy("user_id", "session_id")
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct(
                         F.col("ts").cast("double").alias("t"),
                         F.col("event_id").alias("e"),
                         F.col("event_type").alias("y")))),
                     lambda x: x["y"]),
                 ">").alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.countDistinct("user_id").alias("n_users")))


SESSION_PATHS_SQL = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM tagged
), paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, session_id
)
SELECT path, count(*) AS n_sessions,
       count(DISTINCT user_id) AS n_users
FROM paths GROUP BY path
"""




def feed_freshness(spark: SparkSession, sf: str) -> DataFrame:
    """Operational freshness per stream shard: each shard's high-water
    event time vs the global high-water, lag in seconds — the first
    thing an on-call checks when one binlog worker falls behind
    (validity/monitoring family, the content-level analog of the O9
    watchdog)."""
    ev = events_t(spark, sf).select(
        (F.col("user_id") % 8).alias("shard"), "ts", "event_id")
    per_shard = ev.groupBy("shard").agg(
        F.max("ts").alias("shard_high_water"),
        F.count(F.lit(1)).alias("n_events"),
        F.max("event_id").alias("last_event_id"))
    glob = ev.agg(F.max("ts").alias("_global"))
    return (per_shard.crossJoin(F.broadcast(glob))
            .select("shard",
                    F.date_format("shard_high_water",
                                  "yyyy-MM-dd HH:mm:ss").alias("high_water"),
                    (F.col("_global").cast("long")
                     - F.col("shard_high_water").cast("long"))
                    .alias("lag_sec"),
                    "n_events", "last_event_id"))


FEED_FRESHNESS_SQL = """
WITH ev AS (
  SELECT user_id % 8 AS shard, ts, event_id FROM events
), per_shard AS (
  SELECT shard, max(ts) AS hw, count(*) AS n_events,
         max(event_id) AS last_event_id
  FROM ev GROUP BY shard
), hw_all AS (SELECT max(ts) AS g FROM ev)
SELECT shard,
       strftime(hw, '%Y-%m-%d %H:%M:%S') AS high_water,
       CAST(floor(epoch(g)) - floor(epoch(hw)) AS BIGINT) AS lag_sec,
       n_events, last_event_id
FROM per_shard, hw_all
"""




def ewma_daily_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted daily volume (alpha=1/2, 8-term window) per
    event type — the smoothed signal the anomaly detector's mean/std
    compares against.  Weights are exact powers of two over integer
    counts, so every term and the left-associated sum are exact dyadic
    doubles — bit-equal across engines with no rounding tolerance."""
    ev = events_t(spark, sf)
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.count(F.lit(1)).alias("n_events")))
    w = Window.partitionBy("event_type").orderBy("day")
    ewma = F.coalesce(F.lag("n_events", 0).over(w), F.lit(0)) / 1 + F.coalesce(F.lag("n_events", 1).over(w), F.lit(0)) / 2 + F.coalesce(F.lag("n_events", 2).over(w), F.lit(0)) / 4 + F.coalesce(F.lag("n_events", 3).over(w), F.lit(0)) / 8 + F.coalesce(F.lag("n_events", 4).over(w), F.lit(0)) / 16 + F.coalesce(F.lag("n_events", 5).over(w), F.lit(0)) / 32 + F.coalesce(F.lag("n_events", 6).over(w), F.lit(0)) / 64 + F.coalesce(F.lag("n_events", 7).over(w), F.lit(0)) / 128
    return daily.select("event_type", "day", "n_events",
                        ewma.alias("ewma8"))


EWMA_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, day, n_events,
       COALESCE(lag(n_events, 0) OVER w, 0) / 1 + COALESCE(lag(n_events, 1) OVER w, 0) / 2 + COALESCE(lag(n_events, 2) OVER w, 0) / 4 + COALESCE(lag(n_events, 3) OVER w, 0) / 8 + COALESCE(lag(n_events, 4) OVER w, 0) / 16 + COALESCE(lag(n_events, 5) OVER w, 0) / 32 + COALESCE(lag(n_events, 6) OVER w, 0) / 64 + COALESCE(lag(n_events, 7) OVER w, 0) / 128 AS ewma8
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""




def drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Population-stability-index drift between the first and second
    half of the order history (fixed price bins): the standard check
    that a feature's distribution didn't shift between two snapshots /
    training runs.  PSI = sum((p-q) * ln(p/q)); bins with zero mass get
    the conventional 1e-6 floor."""
    o = t(spark, sf, "orders").select(
        F.to_date("o_orderdate").alias("d"), "o_totalprice")
    mid = o.agg(F.expr(
        "to_date(date_add(min(d), CAST(datediff(max(d), min(d)) / 2 AS INT)))")
        .alias("mid"))
    binned = (o.crossJoin(F.broadcast(mid))
              .select(F.when(F.col("d") < F.col("mid"), "p").otherwise("q")
                       .alias("period"),
                      F.least(F.lit(9),
                              F.floor(F.col("o_totalprice") / 60000)
                               .cast("int")).alias("bin")))
    counts = binned.groupBy("period", "bin").agg(
        F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("period").agg(F.sum("n").alias("tot"))
    frac = (counts.join(tot, "period")
            .select("period", "bin",
                    (F.col("n") / F.col("tot")).alias("f")))
    p = frac.where("period = 'p'").select("bin", F.col("f").alias("fp"))
    q = frac.where("period = 'q'").select("bin", F.col("f").alias("fq"))
    both = (p.join(q, "bin", "full_outer")
            .select("bin",
                    F.coalesce("fp", F.lit(1e-6)).alias("fp"),
                    F.coalesce("fq", F.lit(1e-6)).alias("fq")))
    term = (F.col("fp") - F.col("fq")) * F.log(F.col("fp") / F.col("fq"))
    return both.select("bin", F.round("fp", 6).alias("share_first"),
                       F.round("fq", 6).alias("share_second"),
                       F.round(term, 6).alias("psi_term"))


DRIFT_PSI_SQL = """
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice FROM orders
), mid AS (
  SELECT min(d) + CAST(CAST(date_diff('day', min(d), max(d)) / 2 AS INT)
         AS INTEGER) AS mid FROM o
), binned AS (
  SELECT CASE WHEN o.d < mid.mid THEN 'p' ELSE 'q' END AS period,
         least(9, CAST(floor(o_totalprice / 60000) AS INT)) AS bin
  FROM o, mid
), counts AS (
  SELECT period, bin, count(*) AS n FROM binned GROUP BY period, bin
), tot AS (
  SELECT period, sum(n) AS tot FROM counts GROUP BY period
), frac AS (
  SELECT c.period, c.bin, c.n / t.tot AS f
  FROM counts c JOIN tot t ON c.period = t.period
), p AS (SELECT bin, f AS fp FROM frac WHERE period = 'p'),
q AS (SELECT bin, f AS fq FROM frac WHERE period = 'q'),
b2 AS (
  SELECT COALESCE(p.bin, q.bin) AS bin,
         COALESCE(fp, 1e-6) AS fp, COALESCE(fq, 1e-6) AS fq
  FROM p FULL OUTER JOIN q ON p.bin = q.bin
)
SELECT bin, round(fp, 6) AS share_first, round(fq, 6) AS share_second,
       round((fp - fq) * ln(fp / fq), 6) AS psi_term
FROM b2
"""


QUERIES = {
    "anomaly_daily_counts": (anomaly_daily_counts, ANOMALY_SQL),
    "gapfill_daily_locf": (gapfill_daily_locf, GAPFILL_SQL),
    "event_transitions": (event_transitions, TRANSITIONS_SQL),
    "window_distribution": (window_distribution, WINDOW_DIST_SQL),
    "agg_regression": (agg_regression, AGG_REGRESSION_SQL),
    "session_paths": (session_paths, SESSION_PATHS_SQL),
    "feed_freshness": (feed_freshness, FEED_FRESHNESS_SQL),
    "ewma_daily_counts": (ewma_daily_counts, EWMA_SQL),
    "drift_psi": (drift_psi, DRIFT_PSI_SQL),
}
