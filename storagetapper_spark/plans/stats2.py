"""Statistical-inference batch 2: the k-sample and resampling tests
that round out plans/stats.py — Kruskal-Wallis (k-sample rank test),
Brown-Forsythe/Levene (variance homogeneity), a deterministic
randomization (permutation) test, and a delete-one-group jackknife
for a ratio estimator.

Same exactness discipline as plans/stats.py: every statistic is
assembled from EXACT integer counts/sums; cross-engine floats appear
only as one double expression over exact integers written with
byte-identical literals in both engines, micro-floored at the end.
Pseudo-randomness is the stats_bootstrap_ci md5 idiom: one
md5 + hex-parse per (row, group-of-60) yields 60 independent
assignment bits via shift+mask — engine-portable and reproducible.

Scale shapes (100 TB):
- Kruskal-Wallis reduces the fact table to the per-distinct-VALUE
  count grid first (map-side combinable); the ordered cumulative
  window runs over the 50-value quantity grid, never over rows.
- Brown-Forsythe's group medians come from per-group cumulative
  counts over the price-cents grid (domain ≤ 1e7, partitioned by
  group); the deviation pass is a second map-side-combined agg.
- The randomization test is ONE data pass: a 120-way explode into a
  (replicate, arm)-keyed partial agg — 2 md5 calls per row, the
  Chamandy streaming-bootstrap economics.
- The jackknife never resamples: delete-one-GROUP pseudo-values are
  closed-form from g=25 subtotal rows against broadcast totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t

_DEC = "decimal(19,0)"

# ------------------------------------------------- Kruskal-Wallis --


def stats_kruskal_wallis(spark: SparkSession, sf: str) -> DataFrame:
    """Kruskal-Wallis H across the three return-flag populations of
    l_quantity (does quantity rank differently for A/N/R?), with the
    exact tie correction — the k-sample extension of
    stats_mann_whitney.

    Midranks never materialize per row: on the 50-value quantity grid,
    2·R_g = Σ_v c_g(v)·(2·before(v) + cnt(v) + 1) is an exact integer
    identity per group, so H = 3/(N(N+1))·Σ_g (2R_g)²/n_g − 3(N+1)
    and the tie factor C = 1 − Σ(t³−t)/(N³−N) both derive from
    integer aggregates (one double expression, identical in both
    engines, micro-floored)."""
    li = t(spark, sf, "lineitem")
    per_v = (li.select(F.col("l_quantity").cast("long").alias("v"),
                       "l_returnflag")
             .groupBy("v")
             .agg(*[F.sum(F.when(F.col("l_returnflag") == g, 1)
                          .otherwise(0)).alias(f"c_{g.lower()}")
                    for g in ("A", "N", "R")],
                  F.count(F.lit(1)).alias("cnt")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    terms = per_v.select(
        "*", (F.sum("cnt").over(w) - F.col("cnt")).alias("before"))
    rank_wt = (F.lit(2).cast(_DEC) * F.col("before").cast(_DEC)
               + F.col("cnt").cast(_DEC) + F.lit(1).cast(_DEC))
    agg = terms.agg(
        *[F.sum(f"c_{g}").alias(f"n_{g}") for g in ("a", "n", "r")],
        *[F.sum(F.col(f"c_{g}").cast(_DEC) * rank_wt).alias(f"r2_{g}")
          for g in ("a", "n", "r")],
        F.sum(F.col("cnt").cast(_DEC) * F.col("cnt").cast(_DEC)
              * F.col("cnt").cast(_DEC) - F.col("cnt").cast(_DEC))
        .alias("tie_term"))
    n = (F.col("n_a") + F.col("n_n") + F.col("n_r")).cast("double")
    ssq = sum(((F.col(f"r2_{g}").cast("double")
                * F.col(f"r2_{g}").cast("double"))
               / F.col(f"n_{g}").cast("double") for g in ("a", "n", "r")),
              F.lit(0.0))
    h = 3.0 / (n * (n + 1.0)) * ssq - 3.0 * (n + 1.0)
    c = 1.0 - F.col("tie_term").cast("double") / (n * n * n - n)
    return agg.select(
        "n_a", "n_n", "n_r",
        F.col("tie_term").cast("long").alias("tie_term"),
        F.floor(h * 1000000.0).cast("long").alias("h_micro"),
        F.floor(h / c * 1000000.0).cast("long").alias("h_tie_adj_micro"))


KRUSKAL_SQL = """
WITH per_v AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS c_n,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c_r,
         count(*) AS cnt
  FROM lineitem GROUP BY 1
),
terms AS (
  SELECT *, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cnt
              AS before
  FROM per_v
),
agg AS (
  SELECT sum(c_a) AS n_a, sum(c_n) AS n_n, sum(c_r) AS n_r,
         sum(CAST(c_a AS HUGEINT)
             * (2 * CAST(before AS HUGEINT) + cnt + 1)) AS r2_a,
         sum(CAST(c_n AS HUGEINT)
             * (2 * CAST(before AS HUGEINT) + cnt + 1)) AS r2_n,
         sum(CAST(c_r AS HUGEINT)
             * (2 * CAST(before AS HUGEINT) + cnt + 1)) AS r2_r,
         sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_term
  FROM terms
),
calc AS (
  SELECT n_a, n_n, n_r, tie_term,
         CAST(n_a + n_n + n_r AS DOUBLE) AS nn,
         (CAST(r2_a AS DOUBLE) * CAST(r2_a AS DOUBLE)
            / CAST(n_a AS DOUBLE)
          + CAST(r2_n AS DOUBLE) * CAST(r2_n AS DOUBLE)
            / CAST(n_n AS DOUBLE)
          + CAST(r2_r AS DOUBLE) * CAST(r2_r AS DOUBLE)
            / CAST(n_r AS DOUBLE)) AS ssq
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_n AS BIGINT) AS n_n,
       CAST(n_r AS BIGINT) AS n_r,
       CAST(tie_term AS BIGINT) AS tie_term,
       CAST(floor((3.0 / (nn * (nn + 1.0)) * ssq - 3.0 * (nn + 1.0))
                  * 1000000.0) AS BIGINT) AS h_micro,
       CAST(floor((3.0 / (nn * (nn + 1.0)) * ssq - 3.0 * (nn + 1.0))
                  / (1.0 - CAST(tie_term AS DOUBLE) / (nn * nn * nn - nn))
                  * 1000000.0) AS BIGINT) AS h_tie_adj_micro
FROM calc
"""


# -------------------------------------------- Brown-Forsythe Levene --


def stats_levene_brown_forsythe(spark: SparkSession, sf: str) -> DataFrame:
    """Brown-Forsythe (median-based Levene) test: are the per-item
    net-revenue variances homogeneous across the three return flags?
    The robust pre-check for stats_welch_ttest / price_anova_brands.

    Group medians come from per-group cumulative counts over the
    price-cents grid (domain ≤ 1e7 distinct cents, window PARTITIONED
    by the 3-value flag but running over the aggregated grid — never
    raw rows).  med2 = lower + upper middle in half-cent units keeps
    the median exact for even n.  The deviation pass |2c − med2| is a
    second map-side-combined agg; F is one double expression over
    exact integer (n, Σd, Σd²) per group, micro-floored."""
    li = t(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    base = li.select(F.col("l_returnflag").alias("g"), cents.alias("c"))
    # r10 (guide §1.2): base was scanned three times (sizes, grid, the
    # deviation pass).  The (g, c) grid — domain-bounded — is pinned
    # and every downstream readout is a cnt-weighted fold over it:
    # sizes = Σ cnt, and the deviation moments weight each grid value
    # by its multiplicity (exact integers/decimals, so the weighted
    # sums equal the former per-row sums bit-for-bit).
    grid = pin(base.groupBy("g", "c").agg(F.count(F.lit(1)).alias("cnt")))
    sizes = grid.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    w = (Window.partitionBy("g").orderBy("c")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = grid.select("g", "c", F.sum("cnt").over(w).alias("cum"))
    med = (cum.join(F.broadcast(sizes), "g")
           .groupBy("g")
           .agg(F.min(F.when(F.col("cum") * 2 >= F.col("n_g") + 1,
                             F.col("c"))).alias("m_lo"),
                F.min(F.when(F.col("cum") * 2 >= F.col("n_g") + 2,
                             F.col("c"))).alias("m_hi"))
           .select("g", (F.col("m_lo") + F.col("m_hi")).alias("med2")))
    dev = (grid.join(F.broadcast(med), "g")
           .select("g", "cnt",
                   F.abs(F.col("c") * 2 - F.col("med2")).alias("d")))
    per_g = dev.groupBy("g").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("d")).alias("s"),
        F.sum(F.col("cnt").cast(_DEC) * F.col("d").cast(_DEC)
              * F.col("d").cast(_DEC)).alias("ss"))
    agg = per_g.agg(
        F.count(F.lit(1)).alias("k"), F.sum("n").alias("n_total"),
        F.sum("s").cast(_DEC).alias("s_all"),
        F.sum(F.col("s").cast("double") * F.col("s").cast("double")
              / F.col("n").cast("double")).alias("sb"),
        F.sum(F.col("ss").cast("double")
              - F.col("s").cast("double") * F.col("s").cast("double")
              / F.col("n").cast("double")).alias("ssw"))
    nt = F.col("n_total").cast("double")
    kk = F.col("k").cast("double")
    ssb = (F.col("sb") - F.col("s_all").cast("double")
           * F.col("s_all").cast("double") / nt)
    fstat = (ssb / (kk - 1.0)) / (F.col("ssw") / (nt - kk))
    return agg.select(
        F.col("k").alias("n_groups"), F.col("n_total").alias("n_total"),
        F.floor(fstat * 1000000.0).cast("long").alias("f_micro"))


LEVENE_SQL = """
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS c
  FROM lineitem
),
sizes AS (SELECT g, count(*) AS n_g FROM base GROUP BY g),
grid AS (SELECT g, c, count(*) AS cnt FROM base GROUP BY g, c),
cum AS (
  SELECT g, c, sum(cnt) OVER (PARTITION BY g ORDER BY c
                              ROWS UNBOUNDED PRECEDING) AS cum
  FROM grid
),
med AS (
  SELECT cum.g,
         min(CASE WHEN cum * 2 >= n_g + 1 THEN c END)
           + min(CASE WHEN cum * 2 >= n_g + 2 THEN c END) AS med2
  FROM cum JOIN sizes ON cum.g = sizes.g GROUP BY cum.g
),
dev AS (
  SELECT base.g, abs(base.c * 2 - med.med2) AS d
  FROM base JOIN med ON base.g = med.g
),
per_g AS (
  SELECT g, count(*) AS n, CAST(sum(d) AS BIGINT) AS s,
         sum(CAST(d AS HUGEINT) * d) AS ss
  FROM dev GROUP BY g
),
agg AS (
  SELECT count(*) AS k, sum(n) AS n_total,
         CAST(sum(s) AS DOUBLE) AS s_all,
         sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             / CAST(n AS DOUBLE)) AS sb,
         sum(CAST(ss AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
               / CAST(n AS DOUBLE)) AS ssw
  FROM per_g
)
SELECT CAST(k AS BIGINT) AS n_groups, CAST(n_total AS BIGINT) AS n_total,
       CAST(floor(((sb - s_all * s_all / CAST(n_total AS DOUBLE))
                   / (CAST(k AS DOUBLE) - 1.0))
                  / (ssw / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS f_micro
FROM agg
"""


# ------------------------------------------------ randomization test --

_B_PERM = 120  # replicates; 60 assignment bits per md5 → 2 hashes/row


def stats_permutation_test(spark: SparkSession, sf: str) -> DataFrame:
    """Randomization test for the urgent-vs-rest order-total gap: under
    H0 (priority unrelated to totals), how extreme is the observed
    mean difference against 120 random re-assignments?

    Re-assignments are deterministic md5 bits (the stats_bootstrap_ci
    hash economics: ONE md5 + hex-parse per (row, group-of-60), each
    replicate's bit is shift+mask), so both engines walk the same 120
    counterfactuals.  Each replicate reduces to exact-integer
    (n₁, Σ₁) in one map-side-combined agg; the extreme count compares
    micro-floored |diff| integers — no cross-engine float ordering.
    Coin-flip assignment (not a fixed-margin shuffle) is the standard
    one-pass randomization variant: group sizes vary Binomial(n, 1/2),
    which the difference-of-means statistic is insensitive to."""
    o = t(spark, sf, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        F.col("o_orderpriority").startswith("1-").alias("tr"))
    tot = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"),
        F.sum(F.when(F.col("tr"), 1).otherwise(0)).alias("n1_obs"),
        F.sum(F.when(F.col("tr"), F.col("c")).otherwise(0)).alias("s1_obs"))
    grp = base.select(
        "k", "c",
        F.explode(F.sequence(F.lit(0), F.lit(_B_PERM // 60 - 1))).alias("g"))
    h60 = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("k").cast("string"), F.col("g").cast("string"))),
        1, 15), 16, 10).cast("long")
    bits = (grp.select("c", "g", h60.alias("h"))
            .select("c", "g", "h",
                    F.explode(F.sequence(F.lit(0), F.lit(59))).alias("j")))
    reps = (bits.select(
        "c", (F.col("g") * 60 + F.col("j")).alias("b"),
        F.expr("(h >> j) & 1").alias("bit"))
        .groupBy("b")
        .agg(F.sum("bit").alias("n1"),
             F.sum(F.col("bit") * F.col("c")).alias("s1")))
    j = reps.crossJoin(F.broadcast(tot))

    def diff(n1c, s1c):
        n1d = F.col(n1c).cast("double")
        s1d = F.col(s1c).cast("double")
        n0d = (F.col("n") - F.col(n1c)).cast("double")
        s0d = (F.col("s") - F.col(s1c)).cast("double")
        return s1d / n1d - s0d / n0d

    scored = j.select(
        F.floor(F.abs(diff("n1", "s1")) * 1000000.0).cast("long")
        .alias("abs_diff_micro"),
        F.floor(F.abs(diff("n1_obs", "s1_obs")) * 1000000.0).cast("long")
        .alias("abs_obs_micro"),
        F.floor(diff("n1_obs", "s1_obs") * 1000000.0).cast("long")
        .alias("obs_micro"))
    return (scored.groupBy("abs_obs_micro", "obs_micro")
            .agg(F.count(F.lit(1)).alias("n_reps"),
                 F.sum(F.when(F.col("abs_diff_micro")
                              >= F.col("abs_obs_micro"), 1)
                       .otherwise(0)).alias("n_extreme"))
            .select(F.col("obs_micro").alias("obs_diff_micro"),
                    "n_reps", "n_extreme",
                    F.floor((F.col("n_extreme") + 1) * 1000
                            / (F.col("n_reps") + 1)).cast("long")
                    .alias("p_value_milli")))


PERM_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c,
         o_orderpriority LIKE '1-%' AS tr
  FROM orders
),
tot AS (
  SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
         sum(CASE WHEN tr THEN 1 ELSE 0 END) AS n1_obs,
         CAST(sum(CASE WHEN tr THEN c ELSE 0 END) AS BIGINT) AS s1_obs
  FROM base
),
hashed AS MATERIALIZED (
  SELECT c, g.range AS g,
         CAST(('0x' || substring(md5(CAST(k AS VARCHAR) || ':'
                                      || CAST(g.range AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM base CROSS JOIN range({_B_PERM // 60}) g
),
reps AS (
  SELECT g * 60 + j AS b, sum(bit) AS n1,
         CAST(sum(bit * c) AS BIGINT) AS s1
  FROM (SELECT c, g, jj.range AS j,
               (h >> CAST(jj.range AS INTEGER)) & 1 AS bit
        FROM hashed CROSS JOIN range(60) jj)
  GROUP BY 1
),
scored AS (
  SELECT CAST(floor(abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                        - CAST(s - s1 AS DOUBLE)
                          / CAST(n - n1 AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS abs_diff_micro,
         CAST(floor(abs(CAST(s1_obs AS DOUBLE) / CAST(n1_obs AS DOUBLE)
                        - CAST(s - s1_obs AS DOUBLE)
                          / CAST(n - n1_obs AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS abs_obs_micro,
         CAST(floor((CAST(s1_obs AS DOUBLE) / CAST(n1_obs AS DOUBLE)
                     - CAST(s - s1_obs AS DOUBLE)
                       / CAST(n - n1_obs AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS obs_micro
  FROM reps, tot
)
SELECT obs_micro AS obs_diff_micro, count(*) AS n_reps,
       CAST(sum(CASE WHEN abs_diff_micro >= abs_obs_micro
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       CAST(floor((sum(CASE WHEN abs_diff_micro >= abs_obs_micro
                            THEN 1 ELSE 0 END) + 1) * 1000
                  / (count(*) + 1)) AS BIGINT) AS p_value_milli
FROM scored
GROUP BY obs_micro
"""


# ------------------------------------------------- jackknife ratio --


def stats_jackknife_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Delete-one-group jackknife standard error for the ratio
    estimator R = Σrevenue/Σquantity (average realized price per
    unit), deleting one supplier NATION at a time — the grouped
    jackknife that survives 100 TB because pseudo-values are
    closed-form from g=25 subtotal rows against broadcast totals
    (Efron & Stein 1981; no resampling pass).

    R_(i) = (S − s_i)/(Q − q_i); var_jack = (g−1)/g · Σ(R_(i) − R̄)².
    All subtotals are exact integers (cents / integer quantities);
    the variance is one double expression, micro-floored."""
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    per_n = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
             .groupBy("s_nationkey")
             .agg(F.sum(cents).alias("s_i"),
                  F.sum(F.col("l_quantity").cast("long")).alias("q_i")))
    tot = per_n.agg(F.sum("s_i").alias("s_tot"), F.sum("q_i").alias("q_tot"),
                    F.count(F.lit(1)).alias("g"))
    loo = (per_n.crossJoin(F.broadcast(tot))
           .select("g", "s_tot", "q_tot",
                   ((F.col("s_tot") - F.col("s_i")).cast("double")
                    / (F.col("q_tot") - F.col("q_i")).cast("double"))
                   .alias("r_i")))
    agg = loo.groupBy("g", "s_tot", "q_tot").agg(
        F.sum("r_i").alias("sr"), F.sum(F.col("r_i") * F.col("r_i"))
        .alias("srr"))
    gd = F.col("g").cast("double")
    var_jack = ((gd - 1.0) / gd
                * (F.col("srr") - F.col("sr") * F.col("sr") / gd))
    r_full = F.col("s_tot").cast("double") / F.col("q_tot").cast("double")
    return agg.select(
        F.col("g").alias("n_groups"),
        F.floor(r_full * 1000000.0).cast("long").alias("ratio_micro"),
        F.floor(F.sqrt(var_jack) * 1000000.0).cast("long")
        .alias("jack_se_micro"))


JACK_SQL = """
WITH per_n AS (
  SELECT s_nationkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS s_i,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_i
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey
),
tot AS (
  SELECT CAST(sum(s_i) AS BIGINT) AS s_tot,
         CAST(sum(q_i) AS BIGINT) AS q_tot, count(*) AS g
  FROM per_n
),
loo AS (
  SELECT g, s_tot, q_tot,
         CAST(s_tot - s_i AS DOUBLE) / CAST(q_tot - q_i AS DOUBLE) AS r_i
  FROM per_n, tot
),
agg AS (
  SELECT g, s_tot, q_tot, sum(r_i) AS sr, sum(r_i * r_i) AS srr
  FROM loo GROUP BY g, s_tot, q_tot
)
SELECT CAST(g AS BIGINT) AS n_groups,
       CAST(floor(CAST(s_tot AS DOUBLE) / CAST(q_tot AS DOUBLE)
                  * 1000000.0) AS BIGINT) AS ratio_micro,
       CAST(floor(sqrt((CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
                       * (srr - sr * sr / CAST(g AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS jack_se_micro
FROM agg
"""


# ---------------------------------------------------- Welch ANOVA --


def stats_welch_anova(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (F*) of order totals
    across the five order priorities — the k-sample extension of
    stats_welch_ttest, and the test to reach for when
    stats_levene_brown_forsythe REJECTS variance homogeneity (classic
    ANOVA assumes it; Welch 1951 does not).

    Unambiguous for unbalanced groups (unlike two-way decompositions).
    Per-group (n, Σc, Σc²) are exact integers in one map-side-combined
    agg; weights w_g = n_g/s_g² and the F* numerator/denominator are
    one double expression over the 5 subtotal rows, micro-floored."""
    o = t(spark, sf, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    per_g = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"),
        F.sum(F.col("c").cast(_DEC) * F.col("c").cast(_DEC)).alias("ss"))
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    var = (ssd - sd * sd / nd) / (nd - 1.0)
    # Welch weights: w_g = n_g / s_g² (s_g² the sample variance)
    w = nd / var
    terms = per_g.select(
        "n", (F.lit(1)).alias("one"), w.alias("w"),
        (w * (sd / nd)).alias("wm"),
        (w * (sd / nd) * (sd / nd)).alias("wmm"),
        nd.alias("nd"))
    agg = terms.agg(
        F.count(F.lit(1)).alias("k"), F.sum("n").alias("n_total"),
        F.sum("w").alias("w_sum"), F.sum("wm").alias("wm_sum"),
        F.sum("wmm").alias("wmm_sum"))
    # second pass for the denominator's Σ(1−w_g/W)²/(n_g−1): needs W,
    # so join the 5 subtotal rows against the broadcast totals
    den_terms = per_g.crossJoin(F.broadcast(agg)).select(
        "k", "n_total", "w_sum", "wm_sum", "wmm_sum",
        ((F.lit(1.0) - (nd / var) / F.col("w_sum"))
         * (F.lit(1.0) - (nd / var) / F.col("w_sum"))
         / (nd - 1.0)).alias("dterm"))
    final = den_terms.groupBy("k", "n_total", "w_sum", "wm_sum",
                              "wmm_sum").agg(
        F.sum("dterm").alias("dsum"))
    kd = F.col("k").cast("double")
    grand = F.col("wm_sum") / F.col("w_sum")
    num = ((F.col("wmm_sum") - F.col("w_sum") * grand * grand)
           / (kd - 1.0))
    den = (1.0 + 2.0 * (kd - 2.0) / (kd * kd - 1.0) * F.col("dsum"))
    dof2 = (kd * kd - 1.0) / (3.0 * F.col("dsum"))
    return final.select(
        F.col("k").alias("n_groups"), "n_total",
        F.floor(num / den * 1000000.0).cast("long").alias("f_star_micro"),
        F.floor(dof2 * 1000.0).cast("long").alias("dof2_milli"))


WELCH_ANOVA_SQL = """
WITH base AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
per_g AS (
  SELECT g, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
         sum(CAST(c AS HUGEINT) * c) AS ss
  FROM base GROUP BY g
),
wg AS (
  SELECT n,
         CAST(n AS DOUBLE)
           / ((CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1.0)) AS w,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m
  FROM per_g
),
tots AS (
  SELECT count(*) AS k, sum(n) AS n_total, sum(w) AS w_sum,
         sum(w * m) AS wm_sum, sum(w * m * m) AS wmm_sum
  FROM wg
),
dsum AS (
  SELECT sum((1.0 - w / w_sum) * (1.0 - w / w_sum)
             / (CAST(n AS DOUBLE) - 1.0)) AS dsum
  FROM wg, tots
)
SELECT CAST(k AS BIGINT) AS n_groups, CAST(n_total AS BIGINT) AS n_total,
       CAST(floor(((wmm_sum - w_sum * (wm_sum / w_sum) * (wm_sum / w_sum))
                   / (CAST(k AS DOUBLE) - 1.0))
                  / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
                         / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                         * dsum)
                  * 1000000.0) AS BIGINT) AS f_star_micro,
       CAST(floor((CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                  / (3.0 * dsum) * 1000.0) AS BIGINT) AS dof2_milli
FROM tots, dsum
"""


QUERIES = {
    "stats_kruskal_wallis": (stats_kruskal_wallis, KRUSKAL_SQL),
    "stats_welch_anova": (stats_welch_anova, WELCH_ANOVA_SQL),
    "stats_levene_brown_forsythe": (stats_levene_brown_forsythe,
                                    LEVENE_SQL),
    "stats_permutation_test": (stats_permutation_test, PERM_SQL),
    "stats_jackknife_ratio": (stats_jackknife_ratio, JACK_SQL),
}
