"""Survival-analysis batch 2: the Nelson-Aalen cumulative-hazard
estimator and the two-sample log-rank test, completing the
Kaplan-Meier family (plans/relational10.survival_km) over the same
30-min-gap session durations with the same right-censoring rule
(sessions still open within the gap of the corpus horizon).

Scale shape (100 TB): identical to survival_km — events roll up to
one row per session (keyed shuffle), then every estimator runs on the
distinct-duration grid (whole minutes, duration-capped domain), so
the ordered windows never touch raw event volume.  The ordered prefix
sums run in the same sequence in both engines, so doubles are
engine-exact before the final rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import events_t

_GAP_US = 1800 * 1000000


def _session_items(spark: SparkSession, sf: str, with_cohort: bool):
    """(duration_minutes, event, [cohort]) per session — the KM rollup."""
    ev = events_t(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("double")
           - F.lag(F.col("ts").cast("double"), 1).over(w))
    sess = pin(ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800),
                                                1).otherwise(0))
               .withColumn("session_id", F.sum("new_sess").over(
                   w.rowsBetween(Window.unboundedPreceding, 0)))
               .groupBy("user_id", "session_id")
               .agg(F.unix_micros(F.min("ts")).alias("s_us"),
                    F.unix_micros(F.max("ts")).alias("e_us")))
    # r10 (guide §5/§1.2): the per-session rollup is pinned (both
    # estimators referenced items twice → the two-window sessionize ran
    # twice), and the censoring horizon comes from the rollup itself —
    # max(e_us) over sessions == max(ts) over events, because every
    # event belongs to a session — dropping the second events scan.
    horizon = sess.agg(F.max("e_us").alias("end_us"))
    cols = [F.floor((F.col("e_us") - F.col("s_us")) / 60000000)
            .alias("duration"),
            ((F.col("end_us") - F.col("e_us")) >= _GAP_US)
            .cast("int").alias("event")]
    if with_cohort:
        cols.append((F.col("user_id") % 2).alias("cohort"))
    return sess.crossJoin(F.broadcast(horizon)).select(*cols)


_SESSION_ITEMS_SQL = """
tagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR lag(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id,
         ts
  FROM tagged),
iv AS (SELECT user_id, session_id,
              epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
       FROM sess GROUP BY user_id, session_id),
horizon AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
items AS (
  SELECT CAST(floor((e_us - s_us) / 60000000) AS BIGINT) AS duration,
         CASE WHEN (SELECT end_us FROM horizon) - e_us
                   >= 1800 * 1000000
              THEN 1 ELSE 0 END AS event,
         user_id % 2 AS cohort
  FROM iv)
"""


def survival_nelson_aalen(spark: SparkSession, sf: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ_{t_j≤t} d_j/n_j with its
    Poisson-type variance Σ d_j/n_j² — the estimator of choice when
    hazard (not survival) is the modeled quantity, and the additive
    sibling KM exponentiates.  At-risk counts are a reverse cumulative
    sum on the duration grid; the hazard prefix sums are ordered
    doubles over exact integer (d, n) pairs, micro-floored at the
    output (reference semantics: uber/storagetapper has no survival
    ops — this extends SURVEY §2.7's engagement-analytics surface)."""
    items = _session_items(spark, sf, with_cohort=False)
    per_t = (items.groupBy("duration")
             .agg(F.sum("event").alias("d"),
                  F.count(F.lit(1)).alias("c")))
    # r10 (guide §1.2): the at-risk total is sum(c) over the whole
    # duration grid — an unbounded frame on the same single-partition
    # ordering — instead of the former eager items.count() job (which
    # re-ran the sessionize subtree at plan-build time).  Identical
    # integer.
    w_before = (Window.orderBy("duration")
                .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    at_risk = per_t.withColumn(
        "n_risk", F.sum("c").over(w_all)
        - F.coalesce(F.sum("c").over(w_before), F.lit(0)))
    w_cum = (Window.orderBy("duration")
             .rowsBetween(Window.unboundedPreceding, 0))
    nd = F.col("d").cast("double")
    nr = F.col("n_risk").cast("double")
    cum_h = F.sum(nd / nr).over(w_cum)
    cum_v = F.sum(nd / (nr * nr)).over(w_cum)
    return (at_risk
            .withColumn("cumhaz_micro",
                        F.floor(cum_h * 1000000.0).cast("long"))
            .withColumn("var_nano", F.floor(cum_v * 1e9).cast("long"))
            .filter(F.col("d") > 0)
            .select("duration", F.col("d").alias("n_events"),
                    F.col("n_risk").cast("long").alias("n_at_risk"),
                    "cumhaz_micro", "var_nano")
            .orderBy("duration"))


NELSON_AALEN_SQL = f"""
WITH {_SESSION_ITEMS_SQL},
per_t AS (SELECT duration, CAST(sum(event) AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM items GROUP BY duration),
at_risk AS (
  SELECT duration, d, c,
         (SELECT count(*) FROM items)
           - coalesce(sum(c) OVER (ORDER BY duration
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS n_risk
  FROM per_t),
cum AS (
  SELECT duration, d, n_risk,
         sum(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
           OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) AS h,
         sum(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE)
                                  * CAST(n_risk AS DOUBLE)))
           OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) AS v
  FROM at_risk)
SELECT duration, d AS n_events, CAST(n_risk AS BIGINT) AS n_at_risk,
       CAST(floor(h * 1000000.0) AS BIGINT) AS cumhaz_micro,
       CAST(floor(v * 1e9) AS BIGINT) AS var_nano
FROM cum WHERE d > 0
ORDER BY duration
"""


def survival_logrank(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample log-rank test: do the even/odd user cohorts (the
    deterministic A/B split used across the registry) share a session-
    duration survival curve?  At each event time the observed cohort-1
    events are compared to the hypergeometric expectation
    E₁ = d·n₁/n with variance V = d·(n₁/n)·(n₀/n)·(n−d)/(n−1);
    χ² = (ΣO₁−ΣE₁)²/ΣV.

    Every per-time quantity is an exact integer pair of counts from
    ONE pass over the duration grid (per-cohort at-risk via two
    reverse cumulative sums); the χ² is one double expression over the
    exact sums, micro-floored."""
    items = _session_items(spark, sf, with_cohort=True)
    per_t = (items.groupBy("duration")
             .agg(F.sum("event").alias("d"),
                  F.sum(F.when(F.col("cohort") == 1, F.col("event"))
                        .otherwise(0)).alias("d1"),
                  F.count(F.lit(1)).alias("c"),
                  F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
                  .alias("c1")))
    # r10 (guide §1.2): cohort totals are unbounded-frame sums over the
    # duration grid (same single-partition ordering as the prefix sums)
    # instead of a second aggregation of items + crossJoin — the
    # sessionize subtree is evaluated once.  Identical integers.
    w_before = (Window.orderBy("duration")
                .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    at_risk = (per_t
               .select("duration", "d", "d1",
                       (F.sum("c").over(w_all)
                        - F.coalesce(F.sum("c").over(w_before), F.lit(0)))
                       .alias("n_risk"),
                       (F.sum("c1").over(w_all)
                        - F.coalesce(F.sum("c1").over(w_before), F.lit(0)))
                       .alias("n1_risk")))
    dd = F.col("d").cast("double")
    nn = F.col("n_risk").cast("double")
    n1 = F.col("n1_risk").cast("double")
    e1 = dd * n1 / nn
    v = F.when(F.col("n_risk") > 1,
               dd * (n1 / nn) * ((nn - n1) / nn)
               * (nn - dd) / (nn - 1.0)).otherwise(F.lit(0.0))
    agg = (at_risk.filter(F.col("d") > 0)
           .agg(F.sum("d1").alias("o1"),
                F.sum(e1).alias("e1_sum"), F.sum(v).alias("v_sum"),
                F.count(F.lit(1)).alias("n_event_times")))
    chi2 = ((F.col("o1").cast("double") - F.col("e1_sum"))
            * (F.col("o1").cast("double") - F.col("e1_sum"))
            / F.col("v_sum"))
    return agg.select(
        "n_event_times", F.col("o1").alias("observed_1"),
        F.floor(F.col("e1_sum") * 1000000.0).cast("long")
        .alias("expected_1_micro"),
        F.floor(F.col("v_sum") * 1000000.0).cast("long")
        .alias("variance_micro"),
        F.floor(chi2 * 1000000.0).cast("long").alias("chi2_micro"))


LOGRANK_SQL = f"""
WITH {_SESSION_ITEMS_SQL},
per_t AS (
  SELECT duration, CAST(sum(event) AS BIGINT) AS d,
         CAST(sum(CASE WHEN cohort = 1 THEN event ELSE 0 END) AS BIGINT)
           AS d1,
         CAST(count(*) AS BIGINT) AS c,
         CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS c1
  FROM items GROUP BY duration),
tot AS (
  SELECT count(*) AS n_all,
         CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1_all
  FROM items),
at_risk AS (
  SELECT duration, d, d1,
         n_all - coalesce(sum(c) OVER (ORDER BY duration
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n_risk,
         n1_all - coalesce(sum(c1) OVER (ORDER BY duration
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS n1_risk
  FROM per_t, tot),
agg AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         sum(CAST(d AS DOUBLE) * CAST(n1_risk AS DOUBLE)
             / CAST(n_risk AS DOUBLE)) AS e1_sum,
         sum(CASE WHEN n_risk > 1
                  THEN CAST(d AS DOUBLE)
                       * (CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
                       * (CAST(n_risk - n1_risk AS DOUBLE)
                          / CAST(n_risk AS DOUBLE))
                       * (CAST(n_risk AS DOUBLE) - CAST(d AS DOUBLE))
                       / (CAST(n_risk AS DOUBLE) - 1.0)
                  ELSE 0.0 END) AS v_sum,
         count(*) AS n_event_times
  FROM at_risk WHERE d > 0)
SELECT n_event_times, o1 AS observed_1,
       CAST(floor(e1_sum * 1000000.0) AS BIGINT) AS expected_1_micro,
       CAST(floor(v_sum * 1000000.0) AS BIGINT) AS variance_micro,
       CAST(floor((CAST(o1 AS DOUBLE) - e1_sum)
                  * (CAST(o1 AS DOUBLE) - e1_sum) / v_sum
                  * 1000000.0) AS BIGINT) AS chi2_micro
FROM agg
"""


QUERIES = {
    "survival_nelson_aalen": (survival_nelson_aalen, NELSON_AALEN_SQL),
    "survival_logrank": (survival_logrank, LOGRANK_SQL),
}


_C_SCORE_CAP = 64


def ml_survival_concordance(spark: SparkSession, sf: str) -> DataFrame:
    """Harrell's concordance index (C-index) for "session event count
    predicts session survival": over all comparable session pairs
    (shorter duration UNCENSORED, durations strictly different), the
    fraction where the longer-lived session has the higher engagement
    score (ties in score counted half).  The survival-analysis answer
    to "is this risk score any good?" — 0.5 is coin-flip, 1.0 perfect.

    Exact pair counting WITHOUT pairs: cells on the (duration-minute,
    score) grid, score capped at 64 (monotone-preserving; cap ties
    count as ties), with the score axis DENSIFIED by a sequence()
    generator so the chained suffix sums are correct on sparse data
    (the 2-D dominance identity needs every (d, s) lattice point, cf.
    stats_kendall_tau's dense-grid note).  concordant / tied /
    comparable are exact integer sums; C lands by integer division.

    Scale: one session rollup (user-keyed shuffle), a <= 31 x 65
    lattice, suffix windows partitioned by score or duration — nothing
    unpartitioned, nothing pairwise, no cartesian (the lattice is a
    per-duration generator explode)."""
    ev = events_t(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("double")
           - F.lag(F.col("ts").cast("double"), 1).over(w))
    sess = (ev.withColumn("new_sess",
                          F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
            .withColumn("session_id", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "session_id")
            .agg(F.unix_micros(F.min("ts")).alias("s_us"),
                 F.unix_micros(F.max("ts")).alias("e_us"),
                 F.count(F.lit(1)).alias("n_ev")))
    horizon = ev.agg(F.unix_micros(F.max("ts")).alias("end_us"))
    items = (sess.crossJoin(F.broadcast(horizon))
             .select(F.floor((F.col("e_us") - F.col("s_us")) / 60000000)
                     .alias("d"),
                     ((F.col("end_us") - F.col("e_us")) >= _GAP_US)
                     .cast("int").alias("event"),
                     F.least(F.col("n_ev"),
                             F.lit(_C_SCORE_CAP)).alias("s")))
    cells = (items.groupBy("d", "s")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.sum("event").alias("ev_cnt")))
    dmarg = cells.select("d").distinct()
    lattice = dmarg.select(
        "d", F.explode(F.sequence(F.lit(1), F.lit(_C_SCORE_CAP)))
        .alias("s"))
    dense = (lattice.join(cells, ["d", "s"], "left")
             .select("d", "s",
                     F.coalesce("cnt", F.lit(0)).alias("cnt"),
                     F.coalesce("ev_cnt", F.lit(0)).alias("ev_cnt")))
    w_d = (Window.partitionBy("s").orderBy("d")
           .rowsBetween(1, Window.unboundedFollowing))
    a1 = dense.withColumn(
        "after_d", F.coalesce(F.sum("cnt").over(w_d), F.lit(0)))
    w_s = (Window.partitionBy("d").orderBy("s")
           .rowsBetween(1, Window.unboundedFollowing))
    w_all = Window.partitionBy("d")
    b = (a1.withColumn("conc_part",
                       F.coalesce(F.sum("after_d").over(w_s), F.lit(0)))
         .withColumn("comp_part", F.sum("after_d").over(w_all)))
    _D = "decimal(38,0)"
    tots = b.agg(
        F.sum("cnt").alias("n_sessions"),
        F.sum("ev_cnt").alias("n_uncensored"),
        F.sum(F.col("ev_cnt").cast(_D) * F.col("comp_part").cast(_D))
        .alias("comparable"),
        F.sum(F.col("ev_cnt").cast(_D) * F.col("conc_part").cast(_D))
        .alias("concordant"),
        F.sum(F.col("ev_cnt").cast(_D) * F.col("after_d").cast(_D))
        .alias("tied_score"))
    return tots.select(
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.col("n_uncensored").cast("long").alias("n_uncensored"),
        F.col("comparable").cast("long").alias("comparable_pairs"),
        F.col("concordant").cast("long").alias("concordant"),
        F.col("tied_score").cast("long").alias("tied_score"),
        F.expr("CAST((2 * CAST(concordant AS DECIMAL(38,0)) + tied_score) "
               "* 1000000 div (2 * comparable) AS BIGINT)")
        .alias("c_index_micro"))


CONCORDANCE_SQL = f"""
WITH {_SESSION_ITEMS_SQL.replace("items AS (",
 "items0 AS (").replace("user_id % 2 AS cohort", "user_id % 2 AS cohort")},
counted AS (
  SELECT user_id, session_id, count(*) AS n_ev
  FROM sess GROUP BY user_id, session_id
),
items2 AS (
  SELECT CAST(floor((iv.e_us - iv.s_us) / 60000000) AS BIGINT) AS d,
         CASE WHEN (SELECT end_us FROM horizon) - iv.e_us
                   >= 1800 * 1000000
              THEN 1 ELSE 0 END AS event,
         least(c.n_ev, {_C_SCORE_CAP}) AS s
  FROM iv JOIN counted c
    ON c.user_id = iv.user_id AND c.session_id = iv.session_id
),
cells AS (
  SELECT d, s, count(*) AS cnt, CAST(sum(event) AS BIGINT) AS ev_cnt
  FROM items2 GROUP BY 1, 2
),
lattice AS (
  SELECT dm.d, t.s
  FROM (SELECT DISTINCT d FROM cells) dm
  CROSS JOIN (SELECT unnest(range(1, {_C_SCORE_CAP + 1})) AS s) t
),
dense AS (
  SELECT l.d, l.s, COALESCE(c.cnt, 0) AS cnt,
         COALESCE(c.ev_cnt, 0) AS ev_cnt
  FROM lattice l LEFT JOIN cells c ON c.d = l.d AND c.s = l.s
),
a1 AS (
  SELECT *, COALESCE(sum(cnt) OVER (PARTITION BY s ORDER BY d
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
            AS after_d
  FROM dense
),
b AS (
  SELECT *,
         COALESCE(sum(after_d) OVER (PARTITION BY d ORDER BY s
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
           AS conc_part,
         sum(after_d) OVER (PARTITION BY d) AS comp_part
  FROM a1
),
tots AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_sessions,
         CAST(sum(ev_cnt) AS BIGINT) AS n_uncensored,
         sum(CAST(ev_cnt AS HUGEINT) * comp_part) AS comparable,
         sum(CAST(ev_cnt AS HUGEINT) * conc_part) AS concordant,
         sum(CAST(ev_cnt AS HUGEINT) * after_d) AS tied_score
  FROM b
)
SELECT n_sessions, n_uncensored,
       CAST(comparable AS BIGINT) AS comparable_pairs,
       CAST(concordant AS BIGINT) AS concordant,
       CAST(tied_score AS BIGINT) AS tied_score,
       CAST((2 * concordant + tied_score) * 1000000
            // (2 * comparable) AS BIGINT) AS c_index_micro
FROM tots
"""


QUERIES["ml_survival_concordance"] = (ml_survival_concordance,
                                      CONCORDANCE_SQL)
