"""Batch 14: fiscal-calendar rollup, order-priority mix shift, and the
Markov stationary distribution of the event-type transition chain.

The Markov query is the bounded-iteration pattern with an
exactly-matching unrolled oracle (the tokenizer_bpe_train recipe):
every iteration's vector is floored to nano-int units before the next
matrix-vector product, so the 12 generations are bit-identical across
engines regardless of float-sum order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin, release
from storagetapper_spark.plans.common import events_t, t


def fiscal_quarter_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Net revenue and order counts by FISCAL year/quarter (fiscal year
    starts Feb 1 — the calendar-mapping surface a warehouse needs when
    the business year ≠ the calendar year).  The mapping is one month
    shift before year()/quarter(); both engines clamp month-end
    arithmetic identically.  One fact join + one agg."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = t(spark, sf, "lineitem")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    fdate = F.add_months(F.col("o_orderdate").cast("date"), -1)
    net = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                  * 100).cast("long")
    return (j.groupBy(F.year(fdate).alias("fy"),
                      F.quarter(fdate).alias("fq"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.countDistinct("o_orderkey").alias("n_orders"),
                 F.sum(net).alias("revenue_cents"))
            .orderBy("fy", "fq"))


FISCAL_SQL = """
WITH j AS (
  SELECT year(CAST(o.o_orderdate AS DATE) - INTERVAL 1 MONTH) AS fy,
         quarter(CAST(o.o_orderdate AS DATE) - INTERVAL 1 MONTH) AS fq,
         o.o_orderkey,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS net
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT fy, fq, count(*) AS n_items,
       count(DISTINCT o_orderkey) AS n_orders,
       CAST(sum(net) AS BIGINT) AS revenue_cents
FROM j
GROUP BY fy, fq
ORDER BY fy, fq
"""


QUERIES = {
    "fiscal_quarter_rollup": (fiscal_quarter_rollup, FISCAL_SQL),
}


def priority_mix_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Month-over-month shift in the order-priority mix: per month and
    priority, the share of orders (floor-micro) and its delta vs the
    previous month — integer subtraction of already-quantized shares,
    so the delta is exact.  The mix table after the first agg is
    months × priorities; the lag window runs there."""
    o = t(spark, sf, "orders")
    m = (o.groupBy(F.date_trunc("month", F.col("o_orderdate"))
                   .cast("date").alias("month"),
                   F.col("o_orderpriority").alias("prio"))
         .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("month")
    share = F.floor(F.col("n") * 1000000
                    / F.sum("n").over(tot)).cast("long")
    shared = m.select("month", "prio", "n", share.alias("share_micro"))
    w = Window.partitionBy("prio").orderBy("month")
    return (shared.select(
        "month", "prio", "n", "share_micro",
        (F.col("share_micro")
         - F.coalesce(F.lag("share_micro").over(w),
                      F.col("share_micro")))
        .alias("delta_micro"))
        .orderBy("month", "prio"))


MIX_SHIFT_SQL = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_orderpriority AS prio, count(*) AS n
  FROM orders GROUP BY 1, 2
),
shared AS (
  SELECT month, prio, n,
         CAST(floor(n * 1000000 / sum(n) OVER (PARTITION BY month))
              AS BIGINT) AS share_micro
  FROM m
)
SELECT month, prio, n, share_micro,
       share_micro - COALESCE(
         lag(share_micro) OVER (PARTITION BY prio ORDER BY month),
         share_micro) AS delta_micro
FROM shared
ORDER BY month, prio
"""


QUERIES["priority_mix_shift"] = (priority_mix_shift, MIX_SHIFT_SQL)


_MK_ITERS = 12
_MK_SCALE = 1_000_000_000  # nano units


def events_markov_stationary(spark: SparkSession, sf: str) -> DataFrame:
    """Stationary distribution of the per-user event-type transition
    chain (power iteration, 12 rounds): where does a user's session
    end up spending its time?  Transition counts come from one
    user-keyed window pass (the event_transitions construction); the
    chain itself is |types|², so iterations run on broadcast-size
    tables.  Each round's vector is floored to nano-ints before the
    next product — both engines run the identical 12 quantized
    generations (the unrolled oracle matches round for round)."""
    ev = events_t(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select(F.col("event_type").alias("src"),
                       F.lead("event_type").over(w).alias("dst"))
             .filter(F.col("dst").isNotNull()))
    # r10 (guide §5): counts feeds rowsum and the p join — pin the
    # |types|² table so the window pass over events runs once; p is
    # read by the state count and every round.
    counts = pin(pairs.groupBy("src", "dst")
                 .agg(F.count(F.lit(1)).alias("n")))
    rowsum = counts.groupBy("src").agg(F.sum("n").alias("rs"))
    p = pin(counts.join(rowsum, "src").select("src", "dst", "n", "rs"))
    release(counts)
    states = p.select(F.col("src").alias("s")).distinct()
    k = states.count()
    v = states.select(F.col("s"),
                      F.lit(_MK_SCALE // k).cast("long").alias("m"))
    for _ in range(_MK_ITERS):
        v = (p.join(v, F.col("s") == F.col("src"))
             .groupBy("dst")
             .agg(F.sum(F.floor(
                 F.col("m").cast("double") * F.col("n").cast("double")
                 / F.col("rs").cast("double")).cast("long")).alias("m"))
             .select(F.col("dst").alias("s"), "m"))
    return (v.select(F.col("s").alias("event_type"),
                     F.col("m").alias("stationary_nano"))
            .orderBy("event_type"))


def _markov_sql() -> str:
    chains = ["""
pairs AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT event_type AS src,
           lead(event_type) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL
),
cnts AS MATERIALIZED (
  SELECT src, dst, count(*) AS n FROM pairs GROUP BY 1, 2
),
p AS MATERIALIZED (
  SELECT c.src, c.dst, c.n, r.rs
  FROM cnts c JOIN (SELECT src, CAST(sum(n) AS BIGINT) AS rs
                    FROM cnts GROUP BY src) r ON r.src = c.src
),
k AS MATERIALIZED (SELECT count(DISTINCT src) AS k FROM p),
v0 AS MATERIALIZED (
  SELECT p.src AS s,
         CAST({scale} // k.k AS BIGINT) AS m
  FROM (SELECT DISTINCT src FROM p) p CROSS JOIN k
)""".format(scale=_MK_SCALE)]
    prev = "v0"
    for i in range(1, _MK_ITERS + 1):
        cur = f"v{i}"
        chains.append(f"""
{cur} AS MATERIALIZED (
  SELECT p.dst AS s,
         CAST(sum(CAST(floor(CAST(v.m AS DOUBLE) * CAST(p.n AS DOUBLE)
                             / CAST(p.rs AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS m
  FROM p JOIN {prev} v ON v.s = p.src
  GROUP BY p.dst
)""")
        prev = cur
    return ("WITH " + ",".join(chains)
            + f"\nSELECT s AS event_type, m AS stationary_nano"
              f" FROM {prev} ORDER BY event_type")


QUERIES["events_markov_stationary"] = (events_markov_stationary,
                                       _markov_sql())


_AB_STATE = "purchase"
_AB_HORIZON = 8


def absorption_from_counts(counts: DataFrame) -> DataFrame:
    """The absorbing-chain recursion over a (src, dst, n) transition
    COUNT table — factored so the streaming fold (streaming/
    absorption.py) serves the registered query's exact generations
    over its folded state.  See events_absorption_funnel.

    Returns a collected (driver-local) frame: p and r, the pins every
    generation reads, are released before it returns, so the streaming
    monitor, which calls this per batch, keeps no block of any earlier
    batch (the pin rule, operators/pin).  The result has |types| rows
    and both pins <= |types|^2 (round-8 ADVICE)."""
    rowsum = counts.groupBy("src").agg(F.sum("n").alias("rs"))
    p = pin(counts.join(rowsum, "src").filter(F.col("src") != _AB_STATE))
    r = pin(p.filter(F.col("dst") == _AB_STATE)
            .select(F.col("src").alias("s"),
                    F.floor(F.lit(float(_MK_SCALE))
                            * F.col("n").cast("double")
                            / F.col("rs").cast("double"))
                    .cast("long").alias("rnano")))
    states = p.select(F.col("src").alias("s")).distinct()
    a = states.join(r, "s", "left").select(
        "s", F.coalesce("rnano", F.lit(0)).cast("long").alias("m"))
    q = p.filter(F.col("dst") != _AB_STATE)
    for _ in range(_AB_HORIZON - 1):
        flow = (q.join(a, F.col("s") == F.col("dst"))
                .groupBy("src")
                .agg(F.sum(F.floor(
                    F.col("m").cast("double") * F.col("n").cast("double")
                    / F.col("rs").cast("double")).cast("long"))
                    .alias("flow")))
        a = (states.join(r, "s", "left")
             .join(flow, F.col("s") == F.col("src"), "left")
             .select("s",
                     (F.coalesce("rnano", F.lit(0))
                      + F.coalesce("flow", F.lit(0)))
                     .cast("long").alias("m")))
    out = (a.join(r, "s", "left")
           .select(F.col("s").alias("event_type"),
                   F.coalesce("rnano", F.lit(0)).cast("long")
                   .alias("one_step_nano"),
                   F.col("m").alias(f"absorb_{_AB_HORIZON}_nano"))
           .orderBy("event_type"))
    rows = out.collect()
    release(p, r)
    return counts.sparkSession.createDataFrame(rows, out.schema)


def events_absorption_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Absorption probability of the per-user event chain: from each
    non-purchase event type, the probability of reaching 'purchase'
    within 8 steps — the funnel question ("how likely does a session
    at state X convert?") answered by the absorbing-chain recursion
    a_t(s) = r(s) + sum_d Q(s,d) * a_{t-1}(d) with r the one-step
    conversion row and Q the transient-to-transient block
    (absorption_from_counts).

    Same engine discipline as events_markov_stationary (above): the
    chain is |types|^2 so every iteration runs on broadcast-size
    tables; each round's vector is floored to nano-ints before the
    next product, and the oracle unrolls the identical 8 quantized
    generations.  One user-keyed window pass builds the transitions;
    nothing else touches raw data."""
    ev = events_t(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select(F.col("event_type").alias("src"),
                       F.lead("event_type").over(w).alias("dst"))
             .filter(F.col("dst").isNotNull()))
    # r10 (guide §5): absorption_from_counts references counts twice
    # (rowsum + the p join) before its own pin — pin the |types|²
    # table so the user-keyed window pass over events runs once.
    counts = pin(pairs.groupBy("src", "dst")
                 .agg(F.count(F.lit(1)).alias("n")))
    out = absorption_from_counts(counts)
    release(counts)
    return out


def _absorption_sql() -> str:
    head = """
pairs AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT event_type AS src,
           lead(event_type) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL
),
cnts AS MATERIALIZED (
  SELECT src, dst, count(*) AS n FROM pairs GROUP BY 1, 2
),
p AS MATERIALIZED (
  SELECT c.src, c.dst, c.n, r.rs
  FROM cnts c JOIN (SELECT src, CAST(sum(n) AS BIGINT) AS rs
                    FROM cnts GROUP BY src) r ON r.src = c.src
  WHERE c.src <> '{ab}'
),
r AS MATERIALIZED (
  SELECT src AS s,
         CAST(floor({scale}.0 * CAST(n AS DOUBLE) / CAST(rs AS DOUBLE))
              AS BIGINT) AS rnano
  FROM p WHERE dst = '{ab}'
),
states AS MATERIALIZED (SELECT DISTINCT src AS s FROM p),
q AS MATERIALIZED (SELECT * FROM p WHERE dst <> '{ab}'),
a0 AS MATERIALIZED (
  SELECT st.s, CAST(COALESCE(r.rnano, 0) AS BIGINT) AS m
  FROM states st LEFT JOIN r ON r.s = st.s
)""".format(ab=_AB_STATE, scale=_MK_SCALE)
    chains = [head]
    prev = "a0"
    for i in range(1, _AB_HORIZON):
        cur = f"a{i}"
        chains.append(f"""
{cur} AS MATERIALIZED (
  SELECT st.s,
         CAST(COALESCE(r.rnano, 0) + COALESCE(f.flow, 0) AS BIGINT) AS m
  FROM states st
  LEFT JOIN r ON r.s = st.s
  LEFT JOIN (
    SELECT q.src, CAST(sum(CAST(floor(
             CAST(v.m AS DOUBLE) * CAST(q.n AS DOUBLE)
             / CAST(q.rs AS DOUBLE)) AS BIGINT)) AS BIGINT) AS flow
    FROM q JOIN {prev} v ON v.s = q.dst
    GROUP BY q.src
  ) f ON f.src = st.s
)""")
        prev = cur
    return ("WITH " + ",".join(chains)
            + f"""
SELECT a.s AS event_type,
       CAST(COALESCE(r.rnano, 0) AS BIGINT) AS one_step_nano,
       a.m AS absorb_{_AB_HORIZON}_nano
FROM {prev} a LEFT JOIN r ON r.s = a.s
ORDER BY event_type""")


QUERIES["events_absorption_funnel"] = (events_absorption_funnel,
                                       _absorption_sql())


def events_dau_wau_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """DAU/WAU stickiness per ISO week — the engagement ratio product
    analytics watches weekly: average daily active users over weekly
    active users (1/7 = everyone comes once; 1.0 = everyone comes
    daily).  Exact distinct counts; the average DAU is an integer sum
    of per-day distincts over the week divided at the end.

    Scale: two distinct aggregations keyed by (day|week, user) — the
    standard two-level distinct rollup; no window, no join besides the
    7-row-per-week day rollup."""
    ev = events_t(spark, sf)
    day = F.to_date("ts")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    dau = (ev.groupBy(day.alias("day"), wk.alias("week"))
           .agg(F.countDistinct("user_id").alias("dau")))
    per_wk_dau = (dau.groupBy("week")
                  .agg(F.sum("dau").alias("dau_sum"),
                       F.count(F.lit(1)).alias("days_observed")))
    wau = (ev.groupBy(wk.alias("week"))
           .agg(F.countDistinct("user_id").alias("wau")))
    j = per_wk_dau.join(wau, "week")
    return (j.select(
        "week", "days_observed", "wau",
        F.floor(F.col("dau_sum") * 1000
                / F.col("days_observed")).cast("long")
        .alias("avg_dau_milli"),
        F.floor(F.col("dau_sum") * 1000000
                / (F.col("days_observed") * F.col("wau"))).cast("long")
        .alias("stickiness_micro"))
        .orderBy("week"))


DAU_WAU_SQL = """
WITH dau AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(date_trunc('week', ts) AS DATE) AS week,
         count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1, 2
),
per_wk AS (
  SELECT week, CAST(sum(dau) AS BIGINT) AS dau_sum,
         count(*) AS days_observed
  FROM dau GROUP BY week
),
wau AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         count(DISTINCT user_id) AS wau
  FROM events GROUP BY 1
)
SELECT p.week, p.days_observed, w.wau,
       CAST(floor(p.dau_sum * 1000 / p.days_observed) AS BIGINT)
         AS avg_dau_milli,
       CAST(floor(p.dau_sum * 1000000 / (p.days_observed * w.wau))
            AS BIGINT) AS stickiness_micro
FROM per_wk p JOIN wau w ON p.week = w.week
ORDER BY p.week
"""


QUERIES["events_dau_wau_stickiness"] = (events_dau_wau_stickiness,
                                        DAU_WAU_SQL)
