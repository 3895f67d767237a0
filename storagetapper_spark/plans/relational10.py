"""Query batch 10: approximate string matching (blocked fuzzy join),
k-means cluster assignment over embeddings, distribution analytics
(Gini concentration, Benford leading digits, MAD outliers), interval
self-overlap joins, and an A/B conversion z-test.

All Spark sides are pure Column expressions (zero Python in the row
path); every oracle follows the house rules (explicit rounding at
engine boundaries, BIGINT casts for counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.plans.common import (copurchase_pairs,
                                              order_baskets, t)
from storagetapper_spark.operators.similarity import cosine

QUERIES: dict = {}


# --- blocked fuzzy join (approximate string matching) -------------------

def fuzzy_match_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Record-linkage primitive: find exact and near-duplicate part
    names with a BLOCKED levenshtein self-join.  Multi-attribute
    blocking (brand × first name token — the standard linkage recipe:
    block on structured fields, fuzzy-compare the free text) keeps the
    largest block ~N/200, and a length-difference prefilter inside the
    join condition (|len(a)-len(b)| ≤ 4, a levenshtein lower bound, so
    no recall loss within a block) prunes ~2/3 of candidate pairs
    before the O(len²) edit-distance runs.  25× fewer pairs than
    single-token blocking at identical output; at 100 TB AQE skew-join
    splits any residual hot block.  levenshtein() is whole-stage-
    codegen'd JVM-side."""
    p = (t(spark, sf, "part")
         .select("p_partkey", "p_name", "p_brand",
                 F.concat_ws("|", F.col("p_brand"),
                             F.split(F.col("p_name"), " ").getItem(0))
                  .alias("blk")))
    a, b = p.alias("a"), p.alias("b")
    pairs = (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                    & (F.col("a.p_partkey") < F.col("b.p_partkey"))
                    & (F.abs(F.length(F.col("a.p_name"))
                             - F.length(F.col("b.p_name"))) <= 4))
             .select(F.col("a.p_brand").alias("p_brand"),
                     F.levenshtein(F.col("a.p_name"),
                                   F.col("b.p_name")).alias("lev")))
    return (pairs.groupBy("p_brand")
            .agg(F.sum(F.when(F.col("lev") == 0, 1).otherwise(0))
                  .alias("n_exact"),
                 F.sum(F.when(F.col("lev").between(1, 4), 1).otherwise(0))
                  .alias("n_near"))
            .orderBy("p_brand"))


FUZZY_MATCH_SQL = """
WITH p AS (SELECT p_partkey, p_name, p_brand,
                  p_brand || '|' || string_split(p_name, ' ')[1] AS blk
           FROM part)
SELECT a.p_brand,
       CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_near
FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
            AND abs(len(a.p_name) - len(b.p_name)) <= 4
GROUP BY a.p_brand ORDER BY a.p_brand
"""

QUERIES["fuzzy_match_parts"] = (fuzzy_match_parts, FUZZY_MATCH_SQL)


# --- k-means assignment pass over embeddings ----------------------------

_KMEANS_K = 8


def embedding_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """One Lloyd assignment pass: K deterministic seed centroids (the
    embeddings with vec_id < K) broadcast to every executor; each
    vector scores K cosine similarities JVM-side (zip_with+aggregate,
    no Python) and keeps its argmax.  This is the inner loop of
    distributed k-means and of IVF index builds (operators/
    similarity.py trains full k-means|| on the same kernel): corpus
    never shuffles, only the K×dim centroid table moves.  Rounding to
    6dp before the argmax makes the winner engine-portable; ties break
    on centroid_id."""
    emb = t(spark, sf, "embeddings")
    cent = (emb.filter(F.col("vec_id") < _KMEANS_K)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("cvec")))
    scored = (emb.crossJoin(F.broadcast(cent))
              .select("vec_id", "centroid_id",
                      F.round(cosine(F.col("embedding"), F.col("cvec")), 6)
                       .alias("sim")))
    w = (Window.partitionBy("vec_id")
         .orderBy(F.col("sim").desc(), F.col("centroid_id").asc()))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "centroid_id", "sim")
            .orderBy("vec_id"))


_KM_COS = ("round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec) / "
           "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), "
           "CAST(e.embedding AS DOUBLE[]))) * c.cnorm), 6)")

KMEANS_ASSIGN_SQL = f"""
WITH c AS (SELECT vec_id AS centroid_id,
                  CAST(embedding AS DOUBLE[]) AS cvec,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) AS cnorm
           FROM embeddings WHERE vec_id < {_KMEANS_K}),
scored AS (SELECT e.vec_id, c.centroid_id, {_KM_COS} AS sim
           FROM embeddings e CROSS JOIN c)
SELECT vec_id, centroid_id, sim
FROM (SELECT vec_id, centroid_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, centroid_id) AS rn
      FROM scored)
WHERE rn = 1 ORDER BY vec_id
"""

QUERIES["embedding_kmeans_assign"] = (embedding_kmeans_assign,
                                      KMEANS_ASSIGN_SQL)


# --- Gini revenue concentration per region ------------------------------

def gini_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """How concentrated is customer revenue inside each region?  Gini
    via the rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    revenue sorted ascending (ties broken by custkey, so the rank is
    total and engine-portable).  One shuffle for the per-customer sum,
    one per-region window; regions are few, so at scale the window
    partitions are coarse but each is a single sort — the same shape
    as any per-tenant ranking."""
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    n_o = t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf, "region").select("r_regionkey", "r_name")
    # revenue as exact BIGINT cents end-to-end (the q1 idiom): the
    # per-customer sum, the rank order it induces, and both Gini sums
    # are order-free integers; the Gini itself is one shared double
    # expression.  i·cents can pass int64 at extreme scale — the sum
    # rides decimal(38,0).
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
                .alias("rev_cents"))
           .join(c.select("c_custkey", "c_nationkey"),
                 F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(n_o), F.col("c_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
           .select("r_name", "o_custkey", "rev_cents"))
    w = (Window.partitionBy("r_name")
         .orderBy(F.col("rev_cents").asc(), F.col("o_custkey").asc()))
    ranked = rev.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    return (ranked.groupBy("r_name")
            .agg(n.alias("n_customers"),
                 F.sum((F.col("i").cast("decimal(19,0)")
                        * F.col("rev_cents")).cast("decimal(38,0)"))
                 .alias("_iw"),
                 F.sum("rev_cents").alias("_s"))
            .select("r_name", "n_customers",
                    (2.0 * F.col("_iw").cast("double")
                     / (F.col("n_customers") * F.col("_s").cast("double"))
                     - (F.col("n_customers") + 1.0)
                     / F.col("n_customers")).alias("gini"))
            .orderBy("r_name"))


GINI_SQL = """
WITH rev AS (SELECT r.r_name, o.o_custkey,
                    sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                      AS rev_cents
             FROM orders o
             JOIN customer c ON o.o_custkey = c.c_custkey
             JOIN nation n ON c.c_nationkey = n.n_nationkey
             JOIN region r ON n.n_regionkey = r.r_regionkey
             GROUP BY r.r_name, o.o_custkey),
ranked AS (SELECT r_name, rev_cents,
                  row_number() OVER (PARTITION BY r_name
                                     ORDER BY rev_cents, o_custkey) AS i
           FROM rev),
agg AS (SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
               sum(CAST(CAST(i AS HUGEINT) * rev_cents
                        AS DECIMAL(38,0))) AS iw,
               sum(rev_cents) AS s
        FROM ranked GROUP BY r_name)
SELECT r_name, n_customers,
       2.0 * CAST(iw AS DOUBLE) / (n_customers * CAST(s AS DOUBLE))
         - (n_customers + 1.0) / n_customers AS gini
FROM agg ORDER BY r_name
"""

QUERIES["gini_revenue"] = (gini_revenue, GINI_SQL)


# --- Benford leading-digit analysis -------------------------------------

def benford_digits(spark: SparkSession, sf: str) -> DataFrame:
    """Fraud-screening classic: the leading-digit distribution of order
    totals vs the Benford expectation log10(1+1/d).  The digit is
    extracted from the DECIMAL string form (not via log10/floor, whose
    exact-power-of-ten edge rounds differently across engines).  Pure
    map + one 9-group aggregate — embarrassingly scalable."""
    o = t(spark, sf, "orders")
    digit = F.substring(
        F.regexp_replace(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            "[^1-9]", ""),
        1, 1).cast("int").alias("digit")
    total = o.count()
    return (o.select(digit)
            .groupBy("digit")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("digit", "n",
                    F.round(F.col("n") / F.lit(float(total)), 6)
                     .alias("share"),
                    F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
                     .alias("benford"))
            .withColumn("abs_delta",
                        F.round(F.abs(F.col("share") - F.col("benford")), 6))
            .orderBy("digit"))


BENFORD_SQL = """
WITH d AS (SELECT CAST(substr(regexp_replace(
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                    '[^1-9]', '', 'g'), 1, 1) AS INT) AS digit
           FROM orders),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM orders),
g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit)
SELECT digit, n,
       round(n / t.n_total, 6) AS share,
       round(log10(1.0 + 1.0 / digit), 6) AS benford,
       round(abs(round(n / t.n_total, 6)
                 - round(log10(1.0 + 1.0 / digit), 6)), 6) AS abs_delta
FROM g CROSS JOIN tot t ORDER BY digit
"""

QUERIES["benford_digits"] = (benford_digits, BENFORD_SQL)


# --- interval self-overlap join -----------------------------------------

_OVERLAP_DAYS = 30


def overlapping_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Interval self-overlap: pairs of orders from the same customer
    whose 30-day fulfilment windows intersect ("concurrent open
    orders"), rolled up per market segment.  The equi-key (custkey)
    carries the join — the interval predicate is a post-join filter
    inside each (small) per-customer group, so this stays a hash join
    on a high-cardinality key at any scale; no interval index needed
    when a natural blocking key exists."""
    o = (t(spark, sf, "orders")
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    # r10 (guide §2.4): per-customer basket arrays — ONE shuffle of the
    # narrow orders projection + an in-map strict i<j pair count replaces
    # the two-sided custkey self-join (two exchanges + the fanned-out
    # pair rows).  sort_array over struct(o_orderkey, ...) orders each
    # basket by the unique orderkey, so x before y in the array IS
    # a.o_orderkey < b.o_orderkey; the symmetric 30-day predicate is
    # |datediff| <= 30, evaluated inside the fold.  Only the per-customer
    # pair COUNT leaves the map side.
    baskets = (o.groupBy("o_custkey")
               .agg(F.sort_array(F.collect_list(
                   F.struct("o_orderkey", "o_orderdate"))).alias("os")))
    # r11 (guide §2.2/§2.5): the O(s²) in-task pair fold is size-guarded
    # — a customer with more than _PAIR_CAP orders decomposes into
    # redistributed chunk-pair units (operators/skew.basket_units), so
    # no single task ever evaluates more than chunk² predicate pairs.
    # Every strict orderkey-ordered pair is counted in exactly one unit
    # (sortedness makes all cross-chunk pairs strictly ordered), so the
    # per-customer total (a sum of exact longs over units) is
    # bit-identical to the unguarded fold.
    from storagetapper_spark.operators.skew import basket_units

    pred = (f"abs(datediff(x.o_orderdate, y.o_orderdate))"
            f" <= {_OVERLAP_DAYS}")
    units = basket_units(baskets, "os", keep=("o_custkey",))
    unit_np = F.expr(
        "CASE WHEN _u.diag THEN aggregate(transform(_u.xs, (x, i) ->"
        f" size(filter(slice(_u.xs, i + 2, size(_u.xs)), y -> {pred}))),"
        " 0L, (acc, v) -> acc + v)"
        f" ELSE aggregate(transform(_u.xs, x -> size(filter(_u.ys,"
        f" y -> {pred}))), 0L, (acc, v) -> acc + v) END")
    per_cust = (units.select("o_custkey", unit_np.alias("np"))
                .groupBy("o_custkey").agg(F.sum("np").alias("np"))
                .filter(F.col("np") > 0))
    c = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    # ADVICE r10: count(1) here equals the oracle's
    # count(DISTINCT a.o_custkey) only because c_custkey is UNIQUE in
    # customer (TPC-H PK) — per_cust is already one row per custkey, so
    # the join cannot fan out.  If customer ever carried duplicate
    # keys, switch back to countDistinct("o_custkey").
    return (per_cust
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(F.sum("np").alias("n_overlap_pairs"),
                 F.count(F.lit(1)).alias("n_customers"))
            .orderBy("c_mktsegment"))


OVERLAP_SQL = f"""
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_overlap_pairs,
       CAST(count(DISTINCT a.o_custkey) AS BIGINT) AS n_customers
FROM orders a
JOIN orders b ON a.o_custkey = b.o_custkey
            AND a.o_orderkey < b.o_orderkey
            AND a.o_orderdate <= b.o_orderdate + INTERVAL {_OVERLAP_DAYS} DAY
            AND b.o_orderdate <= a.o_orderdate + INTERVAL {_OVERLAP_DAYS} DAY
JOIN customer c ON a.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""

QUERIES["overlapping_orders"] = (overlapping_orders, OVERLAP_SQL)


# --- robust (MAD) outlier detection -------------------------------------

def price_outliers_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-brand price outliers: median + MAD (median absolute
    deviation) instead of mean + stddev, so the fences themselves are
    not dragged by the outliers being hunted.  Two grouped exact
    percentiles and a broadcast join back (25 brands — the stats side
    is always tiny relative to the fact side).  At 100 TB swap
    percentile → approx_percentile(…, 1e-5) and the shape is
    unchanged; the exact form is kept here for the oracle."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf, "part").select("p_partkey", "p_brand")
    # r10: persist the narrow priced projection — the median pass, the
    # MAD pass and the final fence count each consumed it, re-paying
    # the scan + broadcast join three times per run.
    priced = (li.join(F.broadcast(p),
                      F.col("l_partkey") == F.col("p_partkey"))
              .select("p_brand", "l_extendedprice").persist())
    med = (priced.groupBy("p_brand")
           .agg(F.percentile("l_extendedprice", 0.5).alias("med")))
    dev = (priced.join(F.broadcast(med), "p_brand")
           .withColumn("adev", F.abs(F.col("l_extendedprice") - F.col("med"))))
    mad = dev.groupBy("p_brand").agg(F.percentile("adev", 0.5).alias("mad"),
                                     F.first("med").alias("med"))
    flagged = (dev.drop("med")
               .join(F.broadcast(mad), "p_brand")
               .groupBy("p_brand")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.first("med"), 2).alias("median_price"),
                    F.round(F.first("mad"), 2).alias("mad"),
                    F.sum(F.when(F.abs(F.col("l_extendedprice")
                                       - F.col("med"))
                                 > 3.0 * F.col("mad"), 1).otherwise(0))
                     .alias("n_outliers")))
    return flagged.orderBy("p_brand")


MAD_SQL = """
WITH priced AS (SELECT p.p_brand, l.l_extendedprice
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
med AS (SELECT p_brand, median(l_extendedprice) AS med
        FROM priced GROUP BY p_brand),
dev AS (SELECT priced.p_brand, l_extendedprice, med,
               abs(l_extendedprice - med) AS adev
        FROM priced JOIN med USING (p_brand)),
mad AS (SELECT p_brand, median(adev) AS mad FROM dev GROUP BY p_brand)
SELECT dev.p_brand,
       CAST(count(*) AS BIGINT) AS n,
       round(any_value(dev.med), 2) AS median_price,
       round(any_value(mad.mad), 2) AS mad,
       CAST(sum(CASE WHEN abs(l_extendedprice - dev.med) > 3.0 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.p_brand = mad.p_brand
GROUP BY dev.p_brand ORDER BY dev.p_brand
"""

QUERIES["price_outliers_mad"] = (price_outliers_mad, MAD_SQL)


# --- A/B conversion z-test ----------------------------------------------

def ab_test_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Experimentation primitive: split users into two variants by a
    deterministic hash (user_id % 2 here) and compare USER-DAY-level
    view→purchase conversion (a user-day with a view converts if the
    same user purchased that day — a proper proportion, so p ∈ [0,1]
    by construction, and non-degenerate at any corpus density) with a
    pooled two-proportion z statistic.  One per-user-day conditional
    aggregate then a 2-group rollup — two shuffles, single-row output;
    the z math runs on exact BIGINT counts so it is engine-portable to
    the last bit before rounding."""
    e = t(spark, sf, "events")
    per_user = (e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
         .alias("viewed"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
         .alias("purchased")))
    agg = per_user.filter(F.col("viewed") == 1).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
         .alias("n0"),
        F.sum(F.when((F.col("user_id") % 2 == 0)
                     & (F.col("purchased") == 1), 1).otherwise(0))
         .alias("c0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
         .alias("n1"),
        F.sum(F.when((F.col("user_id") % 2 == 1)
                     & (F.col("purchased") == 1), 1).otherwise(0))
         .alias("c1"))
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pool = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(pool * (1.0 - pool)
                           * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return agg.select(
        "n0", "c0", "n1", "c1",
        F.round(p0, 6).alias("conv0"),
        F.round(p1, 6).alias("conv1"),
        F.round(z, 6).alias("z_score"))


AB_TEST_SQL = """
WITH per_user AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
agg AS (
  SELECT
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN user_id % 2 = 0 AND purchased = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS c0,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN user_id % 2 = 1 AND purchased = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM per_user WHERE viewed = 1)
SELECT n0, c0, n1, c1,
       round(c0 / CAST(n0 AS DOUBLE), 6) AS conv0,
       round(c1 / CAST(n1 AS DOUBLE), 6) AS conv1,
       round((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
             / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
FROM agg
"""

QUERIES["ab_test_conversion"] = (ab_test_conversion, AB_TEST_SQL)


# --- char-bigram LM cross-entropy (perplexity-proxy quality filter) -----

def text_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """The perplexity-proxy quality filter every LLM-data pipeline
    runs (cf. CCNet): train a character-bigram language model on the
    corpus itself, then score each document by its cross-entropy under
    that model — gibberish and boilerplate land far from the corpus
    mean.  ONE explode pass builds the sparse doc×bigram count matrix
    (persisted eagerly — both the model and the scoring derive from
    it, and the house rule is never to let a generator recompute under
    a self-referencing lineage); the model (~|alphabet|² rows) folds
    out of the matrix and broadcasts back; the per-doc score is then
    the count-weighted average of -ln p.  The corpus never shuffles by
    content; only bigram counts and per-doc partials move.  Bigram
    generation is a JVM generator (transform over sequence) — zero
    Python."""
    docs = t(spark, sf, "documents")
    norm = docs.select("doc_id", F.lower(F.col("text")).alias("txt"))

    # r10 (guide §4.2): the doc×bigram count matrix comes from a
    # per-document Counter inside ONE Arrow pass instead of exploding
    # every bigram instance (length(txt)−1 substring rows per doc)
    # through a hash aggregate — identical exact counts, and the pass
    # emits only the per-doc DISTINCT bigrams.
    def _bigram_counts(batches):
        import pandas as pd
        from collections import Counter

        for pdf in batches:
            ids, bgs, cs = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["txt"]):
                c = Counter(txt[i:i + 2] for i in range(len(txt) - 1))
                ids.extend([did] * len(c))
                bgs.extend(c.keys())
                cs.extend(c.values())
            if ids:
                yield pd.DataFrame({"doc_id": ids, "bg": bgs, "c": cs})

    mat = (norm.mapInPandas(_bigram_counts, "doc_id long, bg string, c long")
           .persist())
    mat.count()  # eager: one explode feeds both branches below
    model = mat.groupBy("bg").agg(F.sum("c").alias("n"))
    total = model.agg(F.sum("n").cast("double").alias("t"))
    scored = (mat.join(F.broadcast(model), "bg")
              .crossJoin(F.broadcast(total))
              .groupBy("doc_id")
              .agg(F.sum("c").alias("n_bigrams"),
                   F.round(-(F.sum(F.col("c")
                                   * F.log(F.col("n") / F.col("t")))
                             / F.sum("c")), 4).alias("xent")))
    return scored.orderBy("doc_id")


TEXT_LM_SQL = """
WITH norm AS (SELECT doc_id, lower(text) AS txt FROM documents),
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, length(txt)),
                                    i -> substr(txt, i, 2))) AS bg
       FROM norm),
model AS (SELECT bg, count(*) AS n FROM bg GROUP BY bg),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM model)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-avg(ln(model.n / tot.t)), 4) AS xent
FROM bg JOIN model USING (bg) CROSS JOIN tot
GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["text_lm_score"] = (text_lm_score, TEXT_LM_SQL)


# --- PageRank over the co-purchase graph --------------------------------

_PR_ITERS = 5


def graph_pagerank_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Link-analysis scoring (the corpus-quality-weighting primitive:
    rank items by co-occurrence structure, as web pipelines rank
    domains by citation before sampling).  Graph: parts are nodes,
    an edge joins parts bought in the same order (per-order basket
    pairs — bounded by basket size, never all-pairs).
    operators/graph.pagerank runs a fixed 5-iteration push: each round
    shuffles only the edge list, and the rounds form one lazy plan over
    the persisted adjacency.  Output is
    pr scaled by node count (≈1.0 at uniform) rounded to 5dp — the
    fixed iteration count keeps it deterministic and oracle-checkable
    against a 5×-unrolled SQL recursion."""
    from storagetapper_spark.operators.graph import pagerank

    # pairs are distinct with strict pa < pb, so the symmetrized edge
    # set is unique by construction → dedup=False skips a shuffle
    pairs = copurchase_pairs(order_baskets(spark, sf)).select("pa", "pb")
    pr = pagerank(pairs, "pa", "pb", iterations=_PR_ITERS, damping=0.85,
                  dedup=False, scaled=True)
    return (pr.select(F.col("node").alias("part"),
                      F.round(F.col("pr"), 5).alias("pr_scaled"))
            .orderBy("part"))


def _pagerank_sql(iters: int) -> str:
    head = """
WITH pairs AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION SELECT pb, pa FROM pairs),
deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
adj AS (SELECT e.src, e.dst, d.out_deg FROM edges e JOIN deg d USING (src)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
pr0 AS (SELECT src AS node, 1.0 / nn.n AS pr FROM deg CROSS JOIN nn)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
pr{k} AS (SELECT adj.dst AS node,
               (1.0 - 0.85) / any_value(nn.n)
               + 0.85 * sum(p.pr / adj.out_deg) AS pr
          FROM adj JOIN pr{k - 1} p ON adj.src = p.node CROSS JOIN nn
          GROUP BY adj.dst)""")
    tail = f"""
SELECT node AS part, round(pr * nn.n, 5) AS pr_scaled
FROM pr{iters} CROSS JOIN nn ORDER BY part"""
    return head + "," + ",".join(steps) + tail


QUERIES["graph_pagerank_copurchase"] = (graph_pagerank_copurchase,
                                        _pagerank_sql(_PR_ITERS))


# --- market-basket association rules ------------------------------------

def market_basket_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Association-rule mining (the 2-itemset core of Apriori/FP-growth,
    and NPMI — the phrase-mining co-occurrence score): for every part
    pair bought together in ≥2 orders, emit support, both directed
    confidences, lift, and normalized PMI.  Baskets dedup to distinct
    (order, part) first; the pair counts come from the same
    co-partitioned orderkey self-join as the PageRank graph (bounded
    by basket size, never all-pairs); item counts broadcast back.  All
    metrics are closed-form doubles over exact BIGINT counts —
    engine-portable to the last bit before rounding."""
    # ONE basket table feeds all three readouts: its row count IS the
    # distinct-order count, its explode gives the per-item order
    # frequencies, and copurchase_pairs' pin serves both from the cache
    baskets = order_baskets(spark, sf)
    n_orders = baskets.agg(F.count(F.lit(1))
                           .cast("double").alias("n_orders"))
    item = (baskets.select(F.explode("ps").alias("l_partkey"))
            .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item")))
    pairs = copurchase_pairs(baskets).filter(F.col("n_ab") >= 2)
    na = item.select(F.col("l_partkey").alias("pa"),
                     F.col("n_item").alias("n_a"))
    nb = item.select(F.col("l_partkey").alias("pb"),
                     F.col("n_item").alias("n_b"))
    joined = (pairs.join(F.broadcast(na), "pa")
              .join(F.broadcast(nb), "pb")
              .crossJoin(F.broadcast(n_orders)))
    p_ab = F.col("n_ab") / F.col("n_orders")
    p_a = F.col("n_a") / F.col("n_orders")
    p_b = F.col("n_b") / F.col("n_orders")
    return joined.select(
        "pa", "pb", "n_ab",
        F.round(p_ab, 6).alias("support"),
        F.round(F.col("n_ab") / F.col("n_a"), 6).alias("conf_a_b"),
        F.round(F.col("n_ab") / F.col("n_b"), 6).alias("conf_b_a"),
        F.round(p_ab / (p_a * p_b), 4).alias("lift"),
        F.round(F.log(p_ab / (p_a * p_b)) / -F.log(p_ab), 4).alias("npmi"),
    ).orderBy("pa", "pb")


BASKET_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM li),
item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
         FROM li GROUP BY l_partkey),
pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                 CAST(count(*) AS BIGINT) AS n_ab
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
          GROUP BY pa, pb HAVING count(*) >= 2)
SELECT pa, pb, n_ab,
       round(n_ab / n.n_orders, 6) AS support,
       round(n_ab / CAST(ia.n_item AS DOUBLE), 6) AS conf_a_b,
       round(n_ab / CAST(ib.n_item AS DOUBLE), 6) AS conf_b_a,
       round((n_ab / n.n_orders)
             / ((ia.n_item / n.n_orders) * (ib.n_item / n.n_orders)), 4)
         AS lift,
       round(ln((n_ab / n.n_orders)
                / ((ia.n_item / n.n_orders) * (ib.n_item / n.n_orders)))
             / -ln(n_ab / n.n_orders), 4) AS npmi
FROM pairs
JOIN item ia ON pairs.pa = ia.l_partkey
JOIN item ib ON pairs.pb = ib.l_partkey
CROSS JOIN n
ORDER BY pa, pb
"""

QUERIES["market_basket_rules"] = (market_basket_rules, BASKET_SQL)


# --- CUSUM changepoint detection ----------------------------------------

def anomaly_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential drift detection: two-sided CUSUM over each event
    type's daily-count series — the streaming-monitoring classic that
    catches slow drifts a pointwise z-score (anomaly_daily_counts)
    misses, because deviations ACCUMULATE: S⁺ₜ = max(0, S⁺ₜ₋₁ + xₜ - μ
    - k), S⁻ mirrored, alarm at 4σ.  max(0,·) makes the recursion
    nonlinear — not window/prefix-sum expressible — so this is the
    canonical per-group stateful applyInPandas: series are tiny
    (days × 1 row) and independent, the heavy daily aggregation stays
    JVM-side, and one Arrow batch per group runs the Python loop.  μ,σ
    derive from exact integer sums in BOTH engines (sum, sumsq — not
    each engine's streaming variance), and the recursion replays the
    identical IEEE op sequence, so values are bit-exact vs the
    recursive-CTE oracle before the boundary rounding."""
    import pandas as pd

    from storagetapper_spark.plans.common import events_t

    ev = events_t(spark, sf)
    # r10: measured persisting the daily grid and REVERTED it — the two
    # consumers sit above the SAME groupBy exchange (ReuseExchange), so
    # the cache only added overhead (interleaved A/B at sf0.1: 0.90-0.95s
    # unpersisted vs 1.2-1.6s persisted).
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("x")))
    stats = (daily.groupBy("event_type")
             .agg(F.sum("x").alias("sx"), F.sum(F.col("x") * F.col("x"))
                  .alias("sxx"), F.count(F.lit(1)).alias("cnt")))
    withstats = daily.join(F.broadcast(stats), "event_type")

    schema = ("event_type string, d date, x bigint, "
              "sp double, sn double, alarm_up boolean, alarm_down boolean")

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        mu = float(pdf.sx.iloc[0]) / float(pdf.cnt.iloc[0])
        sigma = (float(pdf.sxx.iloc[0]) / float(pdf.cnt.iloc[0])
                 - mu * mu) ** 0.5
        k, h = 0.5 * sigma, 4.0 * sigma
        sp = sn = 0.0
        sps, sns = [], []
        for x in pdf.x:
            sp = max(0.0, sp + x - mu - k)
            sn = max(0.0, sn + mu - k - x)
            sps.append(sp)
            sns.append(sn)
        out = pdf[["event_type", "d", "x"]].copy()
        out["sp"], out["sn"] = sps, sns
        out["alarm_up"] = [v > h for v in sps]
        out["alarm_down"] = [v > h for v in sns]
        return out

    res = withstats.groupBy("event_type").applyInPandas(cusum, schema)
    return (res.select("event_type", "d", "x",
                       F.round("sp", 6).alias("sp"),
                       F.round("sn", 6).alias("sn"),
                       "alarm_up", "alarm_down")
            .orderBy("event_type", "d"))


CUSUM_SQL = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
stats AS (
  SELECT event_type,
         CAST(sum(x) AS DOUBLE) / count(*) AS mu,
         sqrt(CAST(sum(x * x) AS DOUBLE) / count(*)
              - (CAST(sum(x) AS DOUBLE) / count(*))
                * (CAST(sum(x) AS DOUBLE) / count(*))) AS sigma
  FROM daily GROUP BY event_type),
seq AS (
  SELECT event_type, d, x,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
  FROM daily),
cus AS (
  SELECT s.event_type, s.d, s.x, s.rn,
         greatest(0.0, 0.0 + s.x - st.mu - 0.5 * st.sigma) AS sp,
         greatest(0.0, 0.0 + st.mu - 0.5 * st.sigma - s.x) AS sn
  FROM seq s JOIN stats st USING (event_type) WHERE s.rn = 1
  UNION ALL
  SELECT s.event_type, s.d, s.x, s.rn,
         greatest(0.0, c.sp + s.x - st.mu - 0.5 * st.sigma),
         greatest(0.0, c.sn + st.mu - 0.5 * st.sigma - s.x)
  FROM cus c
  JOIN seq s ON s.event_type = c.event_type AND s.rn = c.rn + 1
  JOIN stats st ON st.event_type = s.event_type)
SELECT c.event_type, c.d, c.x,
       round(c.sp, 6) AS sp, round(c.sn, 6) AS sn,
       c.sp > 4.0 * st.sigma AS alarm_up,
       c.sn > 4.0 * st.sigma AS alarm_down
FROM cus c JOIN stats st USING (event_type)
ORDER BY c.event_type, c.d
"""

QUERIES["anomaly_cusum"] = (anomaly_cusum, CUSUM_SQL)


# --- end-to-end entity resolution ---------------------------------------

def entity_resolution_parts(spark: SparkSession, sf: str) -> DataFrame:
    """The full record-linkage composition: blocked fuzzy candidate
    pairs (same brand×token blocking + length prefilter as
    fuzzy_match_parts, edit distance ≤ 4) → connected components →
    every part labeled with its entity id (min reachable partkey;
    unmatched parts are their own entity) and a canonical flag.  This
    is dedup_corpus_summary's shape applied to structured records
    instead of documents — pairs shuffle, label propagation iterates
    over the edge list only, the part table itself never moves until
    the final left join."""
    from storagetapper_spark.operators.dedup import (
        connected_components_blocked)

    p = (t(spark, sf, "part")
         .select("p_partkey", "p_name",
                 F.concat_ws("|", F.col("p_brand"),
                             F.split(F.col("p_name"), " ").getItem(0))
                  .alias("blk")))
    a, b = p.alias("a"), p.alias("b")
    pairs = (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                    & (F.col("a.p_partkey") < F.col("b.p_partkey"))
                    & (F.abs(F.length(F.col("a.p_name"))
                             - F.length(F.col("b.p_name"))) <= 4))
             .filter(F.levenshtein(F.col("a.p_name"),
                                   F.col("b.p_name")) <= 4)
             .select(F.col("a.blk").alias("blk"),
                     F.col("a.p_partkey").alias("id_a"),
                     F.col("b.p_partkey").alias("id_b")))
    # r10: edges are block-local (one blk per part), so components
    # never span blocks — one per-block union-find pass replaces the
    # iterative label-propagation loop (guide §1.2).
    comp = connected_components_blocked(pairs, "blk", "id_a", "id_b")
    base = t(spark, sf, "part").select("p_partkey")
    labeled = (base.join(comp, base.p_partkey == comp.node, "left")
               .select("p_partkey",
                       F.coalesce(F.col("comp"), F.col("p_partkey"))
                        .alias("entity_id")))
    w = Window.partitionBy("entity_id")
    return (labeled.select(
        "p_partkey", "entity_id",
        (F.col("p_partkey") == F.col("entity_id")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("n_members"))
        .orderBy("p_partkey"))


ENTITY_RES_SQL = """
WITH RECURSIVE p AS (
  SELECT p_partkey, p_name,
         p_brand || '|' || string_split(p_name, ' ')[1] AS blk
  FROM part),
edges AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
  FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
              AND abs(len(a.p_name) - len(b.p_name)) <= 4
  WHERE levenshtein(a.p_name, b.p_name) <= 4),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
comp AS (
  SELECT a AS node, least(a, min(b)) AS comp
  FROM reach GROUP BY a)
SELECT pt.p_partkey,
       coalesce(c.comp, pt.p_partkey) AS entity_id,
       coalesce(c.comp, pt.p_partkey) = pt.p_partkey AS is_canonical,
       CAST(count(*) OVER (
         PARTITION BY coalesce(c.comp, pt.p_partkey)) AS BIGINT)
         AS n_members
FROM part pt LEFT JOIN comp c ON pt.p_partkey = c.node
ORDER BY pt.p_partkey
"""

QUERIES["entity_resolution_parts"] = (entity_resolution_parts,
                                      ENTITY_RES_SQL)


# --- weekday seasonal decomposition -------------------------------------

def seasonality_weekday(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-index decomposition (the multiplicative-STL lite every
    volume monitor needs before alerting): daily event totals → per-
    weekday mean → index = weekday mean / overall mean.  An index far
    from 1.0 is the weekly rhythm; dividing a day's count by its index
    deseasonalizes the series so CUSUM/z-score monitors don't alarm
    every weekend.  Two tiny aggregates over the daily rollup —
    nothing here grows with raw event volume except the first
    map-side-combined groupBy."""
    from storagetapper_spark.plans.common import events_t

    daily = (events_t(spark, sf)
             .groupBy(F.to_date("ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("x")))
    overall = daily.agg((F.sum("x") / F.count(F.lit(1))).alias("mu"))
    return (daily.groupBy(F.weekday("d").alias("dow"))
            .agg(F.count(F.lit(1)).alias("n_days"),
                 (F.sum("x") / F.count(F.lit(1))).alias("_avg"))
            .crossJoin(F.broadcast(overall))
            .select("dow", "n_days",
                    F.round("_avg", 6).alias("avg_count"),
                    F.round(F.col("_avg") / F.col("mu"), 6)
                     .alias("seasonal_index"))
            .orderBy("dow"))


SEASONALITY_SQL = """
WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY CAST(ts AS DATE)),
overall AS (SELECT sum(x) / count(*) AS mu FROM daily)
SELECT isodow(d) - 1 AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       round(sum(x) / count(*), 6) AS avg_count,
       round((sum(x) / count(*)) / any_value(overall.mu), 6)
         AS seasonal_index
FROM daily CROSS JOIN overall
GROUP BY isodow(d) - 1 ORDER BY dow
"""

QUERIES["seasonality_weekday"] = (seasonality_weekday, SEASONALITY_SQL)


# --- int8 quantization recall audit -------------------------------------

_QR_QUERIES, _QR_K = 5, 10


def ann_quantized_recall(spark: SparkSession, sf: str) -> DataFrame:
    """The memory-compression audit a 100 TB vector corpus runs before
    committing to int8 storage (4× smaller, GEMM-friendlier): quantize
    each embedding to int8 by symmetric per-vector max-abs scaling,
    retrieve top-k by cosine in BOTH precisions, and report per-query
    recall overlap.  Cosine is scale-invariant, so the quantized score
    needs no dequantization — it is the cosine of the integer vectors,
    whose dot products are EXACT in doubles (|q|≤127, dim 64 ≪ 2⁵³) —
    making the whole audit engine-portable.  Same broadcast-queries /
    corpus-never-shuffles shape as ann_brute_force."""
    emb = t(spark, sf, "embeddings")
    m = F.greatest(F.array_max(F.expr(
        "transform(embedding, x -> abs(CAST(x AS DOUBLE)))")), F.lit(1e-12))
    qvec = F.expr(
        "transform(embedding, x -> round(CAST(x AS DOUBLE) * 127.0 / _m))")
    both = emb.withColumn("_m", m).select(
        "vec_id", "embedding", qvec.alias("qv"))
    qs = (both.filter(F.col("vec_id") < _QR_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("q_emb"),
                  F.col("qv").alias("q_qv")))
    corpus = both.filter(F.col("vec_id") >= _QR_QUERIES)
    scored = (corpus.crossJoin(F.broadcast(qs))
              .select("query_id", "vec_id",
                      F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
                       .alias("sim_f"),
                      F.round(cosine(F.col("qv"), F.col("q_qv")), 6)
                       .alias("sim_q")))
    wf = (Window.partitionBy("query_id")
          .orderBy(F.col("sim_f").desc(), F.col("vec_id").asc()))
    wq = (Window.partitionBy("query_id")
          .orderBy(F.col("sim_q").desc(), F.col("vec_id").asc()))
    topf = (scored.withColumn("r", F.row_number().over(wf))
            .filter(F.col("r") <= _QR_K).select("query_id", "vec_id"))
    topq = (scored.withColumn("r", F.row_number().over(wq))
            .filter(F.col("r") <= _QR_K).select("query_id", "vec_id"))
    common = (topf.join(topq, ["query_id", "vec_id"])
              .groupBy("query_id")
              .agg(F.count(F.lit(1)).alias("n_common")))
    return (common.select(
        "query_id", "n_common",
        F.round(F.col("n_common") / float(_QR_K), 2).alias("recall"))
        .orderBy("query_id"))


_QR_COS_F = ("round(list_dot_product(CAST(c.embedding AS DOUBLE[]), "
             "CAST(q.q_emb AS DOUBLE[])) / "
             "(sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), "
             "CAST(c.embedding AS DOUBLE[]))) * "
             "sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), "
             "CAST(q.q_emb AS DOUBLE[])))), 6)")
_QR_COS_Q = ("round(list_dot_product(c.qv, q.q_qv) / "
             "(sqrt(list_dot_product(c.qv, c.qv)) * "
             "sqrt(list_dot_product(q.q_qv, q.q_qv))), 6)")

QUANT_RECALL_SQL = f"""
WITH bq AS (
  SELECT vec_id, embedding,
         list_transform(CAST(embedding AS DOUBLE[]),
            x -> round(x * 127.0
                       / greatest(list_max(list_transform(
                             CAST(embedding AS DOUBLE[]), y -> abs(y))),
                           1e-12))) AS qv
  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, qv AS q_qv
      FROM bq WHERE vec_id < {_QR_QUERIES}),
c AS (SELECT vec_id, embedding, qv FROM bq WHERE vec_id >= {_QR_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id,
         {_QR_COS_F} AS sim_f,
         {_QR_COS_Q} AS sim_q
  FROM c CROSS JOIN q),
topf AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_f DESC, vec_id) AS r
    FROM scored) WHERE r <= {_QR_K}),
topq AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_q DESC, vec_id) AS r
    FROM scored) WHERE r <= {_QR_K})
SELECT topf.query_id,
       CAST(count(*) AS BIGINT) AS n_common,
       round(count(*) / {float(_QR_K)}, 2) AS recall
FROM topf JOIN topq USING (query_id, vec_id)
GROUP BY topf.query_id ORDER BY query_id
"""

QUERIES["ann_quantized_recall"] = (ann_quantized_recall, QUANT_RECALL_SQL)


# --- hybrid search: reciprocal-rank fusion ------------------------------

_RRF_Q, _RRF_K, _RRF_C = 3, 10, 60


def hybrid_search_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval, the pattern every modern search/RAG stack
    runs: rank the corpus lexically (distinct-token Jaccard to the
    query doc) AND semantically (embedding cosine, doc_id ≡ vec_id in
    this corpus), then fuse with reciprocal-rank fusion
    RRF = Σ 1/(C + rank_modality).  Ranks are integers, so the fused
    score is bit-exact across engines — float risk exists only inside
    each modality's ranking, handled the house way (round 6 +
    doc_id tiebreak).  Query docs broadcast everywhere; the corpus is
    scanned once per modality and never self-joins: the lexical leg is
    a posting-list probe against the tiny query vocabulary, the
    semantic leg the ann_brute_force shape.  Top-10 per query by
    fused score."""
    docs = t(spark, sf, "documents")
    norm = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
            " +", " ")), " ")).alias("ws"))
    qtok = (norm.filter(F.col("doc_id") < _RRF_Q)
            .select(F.col("doc_id").alias("qid"),
                    F.size("ws").alias("n_q"),
                    F.explode("ws").alias("w")))
    ctok = (norm.filter(F.col("doc_id") >= _RRF_Q)
            .select("doc_id", F.size("ws").alias("n_d"),
                    F.explode("ws").alias("w")))
    inter = (ctok.join(F.broadcast(qtok), "w")
             .groupBy("qid", "doc_id")
             .agg(F.count(F.lit(1)).alias("inter"),
                  F.first("n_d").alias("n_d"), F.first("n_q").alias("n_q")))
    jac = inter.select(
        "qid", "doc_id",
        F.round(F.col("inter")
                / (F.col("n_d") + F.col("n_q") - F.col("inter")), 6)
         .alias("jac"))
    # every (query, candidate) pair needs a lexical rank — zero-overlap
    # docs come from the cross of queries × candidates with jac 0.
    # The candidate set is docs ∩ embeddings (doc_id ≡ vec_id): fusion
    # only ranks docs BOTH modalities can score, and both engines must
    # rank over the SAME set — the round-8 sf0.1 sweep caught the
    # Spark side ranking r_lex over all documents while the oracle
    # ranked after the inner join with the semantic leg, which only
    # coincides when the two tables cover identical ids (true at
    # sf0.01, false at sf0.1 where embeddings is the smaller table).
    emb = t(spark, sf, "embeddings")
    corpus_ids = emb.filter(F.col("vec_id") >= _RRF_Q).select(
        F.col("vec_id").alias("doc_id"))
    qids = docs.filter(F.col("doc_id") < _RRF_Q).select(
        F.col("doc_id").alias("qid"))
    allpairs = corpus_ids.crossJoin(F.broadcast(qids))
    lex = (allpairs.join(jac, ["qid", "doc_id"], "left")
           .select("qid", "doc_id",
                   F.coalesce("jac", F.lit(0.0)).alias("jac")))
    qemb = (emb.filter(F.col("vec_id") < _RRF_Q)
            .select(F.col("vec_id").alias("qid"),
                    F.col("embedding").alias("qv")))
    sem = (emb.filter(F.col("vec_id") >= _RRF_Q)
           .crossJoin(F.broadcast(qemb))
           .select("qid", F.col("vec_id").alias("doc_id"),
                   F.round(cosine(F.col("embedding"), F.col("qv")), 6)
                    .alias("sim")))
    wl = (Window.partitionBy("qid")
          .orderBy(F.col("jac").desc(), F.col("doc_id").asc()))
    ws = (Window.partitionBy("qid")
          .orderBy(F.col("sim").desc(), F.col("doc_id").asc()))
    fused = (lex.withColumn("r_lex", F.row_number().over(wl))
             .join(sem.withColumn("r_sem", F.row_number().over(ws)),
                   ["qid", "doc_id"])
             .select("qid", "doc_id", "r_lex", "r_sem",
                     F.round(1.0 / (_RRF_C + F.col("r_lex"))
                             + 1.0 / (_RRF_C + F.col("r_sem")), 6)
                      .alias("rrf")))
    wf = (Window.partitionBy("qid")
          .orderBy(F.col("rrf").desc(), F.col("doc_id").asc()))
    return (fused.withColumn("rank", F.row_number().over(wf))
            .filter(F.col("rank") <= _RRF_K)
            .orderBy("qid", "rank"))


HYBRID_RRF_SQL = f"""
WITH norm AS (
  SELECT doc_id,
         list_distinct(string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')), ' ')) AS ws
  FROM documents),
qtok AS (SELECT doc_id AS qid, len(ws) AS n_q, unnest(ws) AS w
         FROM norm WHERE doc_id < {_RRF_Q}),
ctok AS (SELECT doc_id, len(ws) AS n_d, unnest(ws) AS w
         FROM norm WHERE doc_id >= {_RRF_Q}),
inter AS (SELECT q.qid, c.doc_id, count(*) AS inter,
                 any_value(c.n_d) AS n_d, any_value(q.n_q) AS n_q
          FROM ctok c JOIN qtok q USING (w)
          GROUP BY q.qid, c.doc_id),
lex AS (
  -- candidate set = embedding corpus (docs both modalities can score),
  -- mirroring the Spark side's ranking domain exactly
  SELECT q.qid, d.doc_id,
         coalesce(round(i.inter / CAST(i.n_d + i.n_q - i.inter AS DOUBLE),
                        6), 0.0) AS jac
  FROM (SELECT vec_id AS doc_id FROM embeddings
        WHERE vec_id >= {_RRF_Q}) d
  CROSS JOIN (SELECT doc_id AS qid FROM documents
              WHERE doc_id < {_RRF_Q}) q
  LEFT JOIN inter i ON i.qid = q.qid AND i.doc_id = d.doc_id),
sem AS (
  SELECT q.vec_id AS qid, c.vec_id AS doc_id,
         round(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                CAST(q.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])))),
               6) AS sim
  FROM embeddings c CROSS JOIN embeddings q
  WHERE c.vec_id >= {_RRF_Q} AND q.vec_id < {_RRF_Q}),
ranked AS (
  SELECT l.qid, l.doc_id,
         row_number() OVER (PARTITION BY l.qid
                            ORDER BY l.jac DESC, l.doc_id) AS r_lex,
         row_number() OVER (PARTITION BY s.qid
                            ORDER BY s.sim DESC, s.doc_id) AS r_sem
  FROM lex l JOIN sem s ON l.qid = s.qid AND l.doc_id = s.doc_id),
fused AS (
  SELECT qid, doc_id, r_lex, r_sem,
         round(1.0 / ({_RRF_C} + r_lex) + 1.0 / ({_RRF_C} + r_sem), 6)
           AS rrf
  FROM ranked)
SELECT qid, doc_id, r_lex, r_sem, rrf,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY rrf DESC, doc_id) AS rank
      FROM fused)
WHERE rank <= {_RRF_K} ORDER BY qid, rank
"""

QUERIES["hybrid_search_rrf"] = (hybrid_search_rrf, HYBRID_RRF_SQL)


# --- rolling distinct users via mergeable sketches ----------------------

def rolling_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day active users — THE query that motivates mergeable
    sketches at 100 TB: exact sliding distinct counts re-scan every
    overlapping window (7× the data), but one Datasketches HLL per day
    merges in O(days × sketch_size), pre-aggregated and reusable for
    any window length.  Here each day's sketch unions across a 7-day
    range join on the day spine (rows moved: days × 7 sketches, not
    events).  Checkable contract mirrors sketch_hll_union: the exact
    count (computed for the oracle via the same range join over raw
    events) plus a flag that the sketch estimate lands within 5%
    (Spark HLL is deterministic)."""
    from storagetapper_spark.plans.common import events_t

    ev = (events_t(spark, sf)
          .select(F.to_date("ts").alias("d"), "user_id"))
    daily_sk = (ev.groupBy("d")
                .agg(F.hll_sketch_agg("user_id").alias("sk")))
    spine = daily_sk.select(F.col("d").alias("day"))
    rolled = (spine.join(
        daily_sk,
        (F.col("d") >= F.date_sub(F.col("day"), 6))
        & (F.col("d") <= F.col("day")))
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")))
    exact = (spine.join(
        ev, (F.col("d") >= F.date_sub(F.col("day"), 6))
        & (F.col("d") <= F.col("day")))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users")))
    return (exact.join(rolled, "day")
            .select("day", "exact_users",
                    (F.abs(F.col("est") - F.col("exact_users"))
                     <= 0.05 * F.col("exact_users")).alias("within_5pct"))
            .orderBy("day"))


ROLLING_DISTINCT_SQL = """
WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
spine AS (SELECT DISTINCT d AS day FROM ev)
SELECT s.day,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM spine s JOIN ev e ON e.d >= s.day - INTERVAL 6 DAY AND e.d <= s.day
GROUP BY s.day ORDER BY s.day
"""

QUERIES["rolling_distinct_users"] = (rolling_distinct_users,
                                     ROLLING_DISTINCT_SQL)


# --- Pareto frontier (skyline) ------------------------------------------

def pareto_frontier_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline query: parts not dominated on (price ↓, size ↑) — no
    other part is both cheaper-or-equal and larger-or-equal (with one
    strict).  The naive formulation is a quadratic NOT EXISTS
    (a BroadcastNestedLoopJoin trap); the scalable form used here is
    the sort-scan identity: after ordering by (price asc, size desc),
    a row is on the frontier iff its size strictly exceeds every
    earlier row's — one window running-max, O(n log n), zero joins.
    Ties on both dims keep the lowest partkey as witness.

    Scale shape: only the cheapest part per size value can make the
    frontier, so a map-side-combined groupBy(p_size) min_by reduces
    the global-sort input from N rows to |size domain| rows (~50)
    BEFORE the single-partition window — the window never sees the
    fact table.  (The oracle keeps the naive full-scan window as the
    semantic spec; both produce identical rows.)"""
    p = (t(spark, sf, "part")
         .select("p_partkey", "p_retailprice", "p_size"))
    reduced = (p.groupBy("p_size")
               .agg(F.min(F.struct("p_retailprice", "p_partkey"))
                     .alias("b"))
               .select(F.col("b.p_partkey").alias("p_partkey"),
                       F.col("b.p_retailprice").alias("p_retailprice"),
                       "p_size"))
    w = (Window.orderBy(F.col("p_retailprice").asc(),
                        F.col("p_size").desc(),
                        F.col("p_partkey").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    return (reduced.withColumn("prev_max", F.max("p_size").over(w))
            .filter(F.col("prev_max").isNull()
                    | (F.col("p_size") > F.col("prev_max")))
            .select("p_partkey", "p_retailprice", "p_size")
            .orderBy("p_partkey"))


PARETO_SQL = """
SELECT p_partkey, p_retailprice, p_size
FROM (SELECT p_partkey, p_retailprice, p_size,
             max(p_size) OVER (
               ORDER BY p_retailprice ASC, p_size DESC, p_partkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM part)
WHERE prev_max IS NULL OR p_size > prev_max
ORDER BY p_partkey
"""

QUERIES["pareto_frontier_parts"] = (pareto_frontier_parts, PARETO_SQL)


# --- gaps-and-islands activity streaks ----------------------------------

def activity_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE active calendar
    days per user (the engagement-streak metric; distinct from
    sessionize's time-gap sessions).  The classic trick — group by
    date - row_number(), which is constant exactly while days are
    consecutive — needs only two windows and two aggregates, all
    partitioned by user: embarrassingly parallel at any user count."""
    from storagetapper_spark.plans.common import events_t

    days = (events_t(spark, sf)
            .select("user_id", F.to_date("ts").alias("d"))
            .distinct())
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w)))
    streaks = (grouped.groupBy("user_id", "grp")
               .agg(F.count(F.lit(1)).alias("len")))
    return (streaks.groupBy("user_id")
            .agg(F.max("len").alias("longest_streak"),
                 F.count(F.lit(1)).alias("n_streaks"))
            .orderBy("user_id"))


STREAKS_SQL = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
grouped AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INT) AS grp
  FROM days),
streaks AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
            FROM grouped GROUP BY user_id, grp)
SELECT user_id, max(len) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM streaks GROUP BY user_id ORDER BY user_id
"""

QUERIES["activity_streaks"] = (activity_streaks, STREAKS_SQL)


# --- view→purchase conversion latency -----------------------------------

def conversion_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert: for every purchase, the gap to the same user's
    most recent PRIOR view (the per-row as-of lookup, expressed as a
    running max over the user's ordered history — one window, no
    self-join), then the latency distribution.  Latencies are exact
    integer microseconds (unix_micros both engines) so only the final
    percentile interpolation is float, rounded at the boundary."""
    from storagetapper_spark.plans.common import events_t

    ev = (events_t(spark, sf)
          .filter(F.col("event_type").isin("view", "purchase"))
          .select("user_id", "event_id", "event_type",
                  F.unix_micros("ts").alias("us")))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("us").asc(), F.col("event_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    lat = (ev.withColumn(
        "last_view_us",
        F.max(F.when(F.col("event_type") == "view", F.col("us"))).over(w))
        .filter((F.col("event_type") == "purchase")
                & F.col("last_view_us").isNotNull())
        .select((F.col("us") - F.col("last_view_us")).alias("lat_us")))
    day_us = 86400.0 * 1e6
    return lat.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.percentile("lat_us", 0.5) / day_us, 6).alias("median_days"),
        F.round(F.percentile("lat_us", 0.9) / day_us, 6).alias("p90_days"),
        F.round(F.max("lat_us") / day_us, 6).alias("max_days"))


CONVERSION_LATENCY_SQL = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
  FROM events WHERE event_type IN ('view', 'purchase')),
lat AS (
  SELECT us - last_view_us AS lat_us
  FROM (SELECT event_type, us,
               max(CASE WHEN event_type = 'view' THEN us END) OVER (
                 PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_view_us
        FROM ev)
  WHERE event_type = 'purchase' AND last_view_us IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_conversions,
       round(quantile_cont(lat_us, 0.5) / (86400.0 * 1e6), 6)
         AS median_days,
       round(quantile_cont(lat_us, 0.9) / (86400.0 * 1e6), 6) AS p90_days,
       round(max(lat_us) / (86400.0 * 1e6), 6) AS max_days
FROM lat
"""

QUERIES["conversion_latency"] = (conversion_latency, CONVERSION_LATENCY_SQL)


# --- categorical entropy profiling --------------------------------------

_ENTROPY_COLS = ["p_brand", "p_type", "p_size", "p_name"]


def profile_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Column-level Shannon entropy for the categorical part
    attributes — the data-profiling signal that ranks columns by
    information content (near-zero ⇒ constant column, near ln(k) ⇒
    uniform).  One groupBy per column (map-side combined; value
    domains are tiny) unioned into a single report with the
    normalized entropy H / ln(n_distinct)."""
    p = t(spark, sf, "part")
    total = p.count()
    out = None
    for col in _ENTROPY_COLS:
        counts = p.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
        prob = F.col("n") / F.lit(float(total))
        row = (counts.agg(
            F.count(F.lit(1)).alias("n_distinct"),
            (-F.sum(prob * F.log(prob))).alias("_h"))
            .select(F.lit(col).alias("column_name"), "n_distinct",
                    F.round("_h", 6).alias("entropy"),
                    F.round(F.log(F.col("n_distinct")
                                  .cast("double")), 6).alias("max_entropy"),
                    F.round(F.col("_h")
                            / F.log(F.col("n_distinct").cast("double")), 6)
                     .alias("normalized")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("column_name")


def _entropy_sql() -> str:
    parts = []
    for col in _ENTROPY_COLS:
        parts.append(f"""
SELECT '{col}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(-sum((n / t.total) * ln(n / t.total)), 6) AS entropy,
       round(ln(CAST(count(*) AS DOUBLE)), 6) AS max_entropy,
       round(-sum((n / t.total) * ln(n / t.total))
             / ln(CAST(count(*) AS DOUBLE)), 6) AS normalized
FROM (SELECT {col}, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY {col})
CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS total FROM part) t""")
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


QUERIES["profile_entropy"] = (profile_entropy, _entropy_sql())


# --- triangle counting over the strong co-purchase graph ----------------

def graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census (the graph-cohesion metric behind community
    detection and recommendation confidence), via the oriented
    wedge-join algorithm: with every edge stored low→high id, wedges
    are (a<b)⋈(b<c) and a triangle is a wedge whose closing edge (a,c)
    exists — two equi-joins, no cartesian, each wedge generated exactly
    once.  At 100 TB the orientation key switches from id to DEGREE
    (then id), which provably bounds per-vertex wedge fan-out by
    out-degree ≤ √(2|E|); the id orientation here keeps the oracle
    simple on the thresholded (n_ab ≥ 2) basket graph."""
    from storagetapper_spark.operators.graph import pin, release
    from storagetapper_spark.plans.graph2 import _edges

    e = pin(_edges(spark, sf))  # three counts below read it
    n_edges = e.count()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
    n_wedges = wedges.count()
    tri = wedges.join(
        e3, (F.col("e3.pa") == F.col("e1.pa"))
        & (F.col("e3.pb") == F.col("e2.pb")))
    n_tri = tri.count()
    release(e)
    ratio = round(n_tri / n_wedges, 6) if n_wedges else 0.0
    return spark.createDataFrame(
        [(n_edges, n_wedges, n_tri, ratio)],
        "n_edges bigint, n_wedges bigint, n_triangles bigint, "
        "closure_ratio double")


TRIANGLES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING count(*) >= 2),
w AS (SELECT e1.pa, e1.pb, e2.pb AS pc
      FROM e e1 JOIN e e2 ON e1.pb = e2.pa),
tr AS (SELECT count(*) AS n_tri
       FROM w JOIN e e3 ON e3.pa = w.pa AND e3.pb = w.pc)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
       CAST(tr.n_tri AS BIGINT) AS n_triangles,
       round(tr.n_tri / CAST((SELECT count(*) FROM w) AS DOUBLE), 6)
         AS closure_ratio
FROM tr
"""

QUERIES["graph_triangles"] = (graph_triangles, TRIANGLES_SQL)


# --- vocabulary coverage curve ------------------------------------------

_VOCAB_KS = [1, 2, 4, 8, 16, 32]


def vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-sizing analytic: rank corpus tokens by frequency and
    report, for candidate vocabulary sizes K, what share of all token
    OCCURRENCES the top-K types cover — the curve that decides vocab
    size before training a tokenizer.  One explode → one map-side-
    combined count per type → a window cumulative sum over the (tiny)
    type table; the corpus itself is read once and never re-shuffled.
    Rank ties break lexicographically, so the curve is engine-exact."""
    docs = t(spark, sf, "documents")
    toks = docs.select(F.explode(F.split(F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
        " +", " ")), " ")).alias("w"))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("tot"))
    w = (Window.orderBy(F.col("n").desc(), F.col("w").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = (counts.crossJoin(F.broadcast(total))
              .withColumn("rank", F.row_number().over(
                  Window.orderBy(F.col("n").desc(), F.col("w").asc())))
              .withColumn("cum", F.sum("n").over(w)))
    return (ranked.filter(F.col("rank").isin(_VOCAB_KS))
            .select(F.col("rank").alias("vocab_size"),
                    F.round(F.col("cum") / F.col("tot"), 6)
                     .alias("coverage"))
            .orderBy("vocab_size"))


VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')), ' ')) AS w
  FROM documents),
counts AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM counts),
ranked AS (
  SELECT w, n,
         row_number() OVER (ORDER BY n DESC, w) AS rank,
         sum(n) OVER (ORDER BY n DESC, w
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM counts)
SELECT CAST(rank AS BIGINT) AS vocab_size,
       round(cum / tot.tot, 6) AS coverage
FROM ranked CROSS JOIN tot
WHERE rank IN ({", ".join(str(k) for k in _VOCAB_KS)})
ORDER BY vocab_size
"""

QUERIES["vocab_coverage"] = (vocab_coverage, VOCAB_COVERAGE_SQL)


# --- peak concurrency (sweep line) --------------------------------------

def peak_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Capacity-planning classic: the maximum number of SIMULTANEOUS
    user sessions per day, via the sweep line — explode each session
    interval into (+1 at start, −1 after end) boundary events, running-
    sum in time order, take the daily max.  Sessions are the same
    30-min-gap construction the `sessionize` row proves.  Boundary ties
    order starts before ends (delta desc) so touching sessions count as
    overlapping.

    Scale design (the two-pass sweep — NO unpartitioned window over the
    data): boundary events are range-bucketed by UTC day (floor(t/86400s)
    is monotone in t and keeps equal-t ties in one bucket, so the global
    (t, delta desc) order is the bucket order followed by the in-bucket
    order); pass 1 computes a per-bucket local cumsum in parallel; pass 2
    computes one running offset per BUCKET (a window over #days rows,
    thousands at worst) and broadcast-joins it back.  conc = local + the
    carry-in offset — exactly the global running sum, with every full-data
    window partitioned by day."""
    from storagetapper_spark.plans.common import events_t

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
                 F.unix_micros(F.max("ts")).alias("e_us")))
    bounds = (sess.select(F.col("s_us").alias("t"), F.lit(1).alias("delta"))
              .unionByName(sess.select(F.col("e_us").alias("t"),
                                       F.lit(-1).alias("delta")))
              .withColumn("bkt", F.floor(F.col("t") / F.lit(86_400_000_000))))
    # The sessionization lineage is read by BOTH the local-cumsum and
    # offset branches; the duplicated subtree is cheap relative to a
    # persist+count's extra fixed-latency action (measured 1.5 vs 2.0s
    # at sf0.1).  At 100 TB, materialize bounds (2 rows/session) to a
    # table instead of recomputing the sessionization twice.
    local_w = (Window.partitionBy("bkt")
               .orderBy(F.col("t").asc(), F.col("delta").desc())
               .rowsBetween(Window.unboundedPreceding, 0))
    local = bounds.withColumn("loc", F.sum("delta").over(local_w))
    # per-bucket carry-in: running sum of PRIOR buckets' deltas — a window
    # over one row per day, never over the data
    off_w = (Window.orderBy("bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (bounds.groupBy("bkt").agg(F.sum("delta").alias("tot"))
               .withColumn("off", F.coalesce(F.sum("tot").over(off_w),
                                             F.lit(0))))
    running = (local.join(F.broadcast(offsets.select("bkt", "off")), "bkt")
               .withColumn("conc", F.col("loc") + F.col("off")))
    return (running
            .select(F.to_date(F.timestamp_micros("t")).alias("day"), "conc")
            .groupBy("day")
            .agg(F.max("conc").alias("peak_concurrency"))
            .orderBy("day"))


PEAK_CONCURRENCY_SQL = """
WITH tagged AS (
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
bounds AS (
  SELECT s_us AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT e_us AS t, -1 AS delta FROM iv),
running AS (
  SELECT t, sum(delta) OVER (ORDER BY t, delta DESC
                             ROWS UNBOUNDED PRECEDING) AS conc
  FROM bounds)
SELECT CAST(make_timestamp(t) AS DATE) AS day,
       CAST(max(conc) AS BIGINT) AS peak_concurrency
FROM running GROUP BY CAST(make_timestamp(t) AS DATE) ORDER BY day
"""

QUERIES["peak_concurrency"] = (peak_concurrency, PEAK_CONCURRENCY_SQL)


# --- personalized weighted PageRank -------------------------------------

_PPR_ITERS, _PPR_BRAND = 3, "Brand#11"


def graph_ppr_brand(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank — the seed-expansion / recommendation
    form: restart mass lands only on a seed set (all parts of one
    brand) and spreads over the WEIGHTED co-purchase graph (edge weight
    = co-occurrence count), so high scores mean "strongly co-bought
    with this brand".  Same lazy fixed-iteration engine as the global
    query; weights change contributions to pr·w/strength(src).  Edge
    weights are integer-valued doubles, so strengths are exact and the
    oracle recursion replays bit-for-bit."""
    from storagetapper_spark.operators.graph import pagerank

    pairs = copurchase_pairs(order_baskets(spark, sf))
    seeds = (t(spark, sf, "part")
             .filter(F.col("p_brand") == _PPR_BRAND)
             .select(F.col("p_partkey").alias("node"),
                     F.lit(1.0).alias("p0")))
    pr = pagerank(pairs, "pa", "pb", iterations=_PPR_ITERS, damping=0.85,
                  dedup=False, weight_col="n_ab", personalization=seeds)
    return (pr.select(F.col("node").alias("part"),
                      F.round(F.col("pr"), 6).alias("ppr"))
            .orderBy("part"))


def _ppr_sql(iters: int, brand: str) -> str:
    head = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                 CAST(count(*) AS DOUBLE) AS w
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
          GROUP BY pa, pb),
edges AS (SELECT pa AS src, pb AS dst, w FROM pairs
          UNION ALL SELECT pb, pa, w FROM pairs),
stg AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
adj AS (SELECT e.src, e.dst, e.w, s.out_w FROM edges e JOIN stg s USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM edges),
seeds AS (SELECT p_partkey AS node, 1.0 AS p0m FROM part
          WHERE p_brand = '{brand}'),
p0 AS (SELECT node, p0m / t.t AS p0
       FROM seeds CROSS JOIN (SELECT sum(p0m) AS t FROM seeds) t),
pr0 AS (SELECT n.node, coalesce(p0.p0, 0.0) AS pr
        FROM nodes n LEFT JOIN p0 USING (node))"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
pr{k} AS (SELECT n.node,
               (1.0 - 0.85) * coalesce(p0.p0, 0.0)
               + coalesce(l.link, 0.0) AS pr
          FROM nodes n
          LEFT JOIN p0 USING (node)
          LEFT JOIN (SELECT adj.dst AS node,
                            0.85 * sum(p.pr * adj.w / adj.out_w) AS link
                     FROM adj JOIN pr{k - 1} p ON adj.src = p.node
                     GROUP BY adj.dst) l USING (node))""")
    tail = f"""
SELECT node AS part, round(pr, 6) AS ppr
FROM pr{iters} ORDER BY part"""
    return head + "," + ",".join(steps) + tail


QUERIES["graph_ppr_brand"] = (graph_ppr_brand,
                              _ppr_sql(_PPR_ITERS, _PPR_BRAND))


# --- Holt linear-trend forecasting --------------------------------------

_HOLT_ALPHA, _HOLT_BETA, _HOLT_H = 0.5, 0.25, 7


def forecast_holt(spark: SparkSession, sf: str) -> DataFrame:
    """Short-horizon volume forecasting: Holt's linear-trend double
    exponential smoothing over each event type's daily counts —
    level lₜ = αxₜ + (1−α)(lₜ₋₁+bₜ₋₁), trend bₜ = β(lₜ−lₜ₋₁) +
    (1−β)bₜ₋₁ — reporting the fitted end state, a 7-day-ahead linear
    forecast, and the in-sample one-step MAE.  Like CUSUM this is a
    coupled nonlinear-in-data recursion → per-series applyInPandas
    with the daily rollup JVM-side.  Smoothing constants are DYADIC
    (0.5, 0.25 — exact binary), so the recursion replays bit-for-bit
    against the recursive-CTE oracle (the EWMA precedent)."""
    import pandas as pd

    from storagetapper_spark.plans.common import events_t

    daily = (events_t(spark, sf)
             .groupBy("event_type", F.to_date("ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("x")))
    a, b_ = _HOLT_ALPHA, _HOLT_BETA
    schema = ("event_type string, n_days bigint, level double, "
              "trend double, forecast_7d double, mae double")

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        xs = [float(v) for v in pdf.x]
        lvl, tr = xs[0], 0.0
        abs_err_sum = 0.0
        for x in xs[1:]:
            pred = lvl + tr
            abs_err_sum += abs(x - pred)
            new_lvl = a * x + (1.0 - a) * (lvl + tr)
            tr = b_ * (new_lvl - lvl) + (1.0 - b_) * tr
            lvl = new_lvl
        return pd.DataFrame([{
            "event_type": pdf.event_type.iloc[0], "n_days": len(xs),
            "level": lvl, "trend": tr,
            "forecast_7d": lvl + _HOLT_H * tr,
            "mae": abs_err_sum / (len(xs) - 1) if len(xs) > 1 else 0.0}])

    res = daily.groupBy("event_type").applyInPandas(holt, schema)
    return (res.select("event_type", "n_days",
                       F.round("level", 6).alias("level"),
                       F.round("trend", 6).alias("trend"),
                       F.round("forecast_7d", 6).alias("forecast_7d"),
                       F.round("mae", 6).alias("mae"))
            .orderBy("event_type"))


FORECAST_HOLT_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
seq AS (
  SELECT event_type, d, CAST(x AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
  FROM daily),
n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type),
holt AS (
  SELECT event_type, rn, x AS lvl, CAST(0.0 AS DOUBLE) AS tr,
         CAST(0.0 AS DOUBLE) AS abs_err_sum
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.rn,
         {_HOLT_ALPHA} * s.x + (1.0 - {_HOLT_ALPHA}) * (h.lvl + h.tr),
         {_HOLT_BETA} * (({_HOLT_ALPHA} * s.x
                          + (1.0 - {_HOLT_ALPHA}) * (h.lvl + h.tr)) - h.lvl)
           + (1.0 - {_HOLT_BETA}) * h.tr,
         h.abs_err_sum + abs(s.x - (h.lvl + h.tr))
  FROM holt h JOIN seq s ON s.event_type = h.event_type
                        AND s.rn = h.rn + 1)
SELECT h.event_type, n.n_days,
       round(h.lvl, 6) AS level,
       round(h.tr, 6) AS trend,
       round(h.lvl + {_HOLT_H} * h.tr, 6) AS forecast_7d,
       round(CASE WHEN n.n_days > 1
                  THEN h.abs_err_sum / (n.n_days - 1) ELSE 0.0 END, 6)
         AS mae
FROM holt h JOIN n USING (event_type)
WHERE h.rn = n.n_days
ORDER BY h.event_type
"""

QUERIES["forecast_holt"] = (forecast_holt, FORECAST_HOLT_SQL)


# --- Kaplan-Meier survival of session durations -------------------------

def survival_km(spark: SparkSession, sf: str) -> DataFrame:
    """Engagement analytics: the Kaplan-Meier survival estimator over
    SESSION durations (same 30-min-gap sessions the `sessionize` row
    proves; duration in whole minutes).  Sessions still open at the
    corpus end (last event within the session gap of the horizon) are
    right-CENSORED — the estimator's whole point is using them
    correctly instead of dropping them.  S(t) = prod over t_j<=t of
    (1 - d_j/n_j), computed as exp(sum ln(1-d/n)) with ONE ordered
    window over the distinct-duration table (tiny); at-risk counts are
    a reverse cumulative sum, so nothing scales with raw event volume
    after the per-session rollup.  The ordered prefix sum runs in the
    same sequence in both engines, so the product is engine-exact
    before rounding."""
    from storagetapper_spark.plans.common import events_t

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
                 F.unix_micros(F.max("ts")).alias("e_us"))
            .persist())
    # r10 (guide §5/§1.2): sess persisted (the horizon and the grid both
    # need it), horizon from the rollup itself (max(e_us) == max(ts) —
    # every event is in a session), and the at-risk total from an
    # unbounded frame on the duration grid instead of the former eager
    # items.count() job that re-ran the sessionize.  Identical integers.
    horizon = sess.agg(F.max("e_us").alias("end_us"))
    items = (sess.crossJoin(F.broadcast(horizon))
             .select(F.floor((F.col("e_us") - F.col("s_us")) / 60000000)
                     .alias("duration"),
                     ((F.col("end_us") - F.col("e_us")) >= 1800 * 1000000)
                     .cast("int").alias("event")))
    per_t = (items.groupBy("duration")
             .agg(F.sum("event").alias("d"),
                  F.count(F.lit(1)).alias("c")))
    w_before = (Window.orderBy("duration")
                .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    at_risk = per_t.withColumn(
        "n_risk", F.sum("c").over(w_all)
        - F.coalesce(F.sum("c").over(w_before), F.lit(0)))
    w_cum = (Window.orderBy("duration")
             .rowsBetween(Window.unboundedPreceding, 0))
    # at the last event time d == n_risk (everyone at risk dies) →
    # survival hits exactly 0; ln(0) is clamped via an explicit flag
    term = F.when(F.col("d") < F.col("n_risk"),
                  F.log(1.0 - F.col("d") / F.col("n_risk")))
    dead = F.max(F.when(F.col("d") >= F.col("n_risk"), 1)
                  .otherwise(0)).over(w_cum)
    surv = at_risk.withColumn(
        "survival",
        F.when(dead == 1, F.lit(0.0)).otherwise(
            F.exp(F.coalesce(F.sum(term).over(w_cum), F.lit(0.0)))))
    return (surv.filter(F.col("d") > 0)
            .select("duration", F.col("d").alias("n_events"),
                    F.col("n_risk").cast("long").alias("n_at_risk"),
                    F.round("survival", 6).alias("survival"))
            .orderBy("duration"))


SURVIVAL_KM_SQL = """
WITH tagged AS (
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
         CASE WHEN (SELECT end_us FROM horizon) - e_us >= 1800 * 1000000
              THEN 1 ELSE 0 END AS event
  FROM iv),
per_t AS (SELECT duration, CAST(sum(event) AS BIGINT) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM items GROUP BY duration),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM items),
at_risk AS (
  SELECT duration, d, c,
         tot.n - coalesce(sum(c) OVER (
           ORDER BY duration
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM per_t CROSS JOIN tot),
surv AS (
  SELECT duration, d, n_risk,
         CASE WHEN max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (
                ORDER BY duration
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
              THEN 0.0
              ELSE exp(coalesce(sum(CASE WHEN d < n_risk
                       THEN ln(1.0 - d / CAST(n_risk AS DOUBLE)) END) OVER (
                ORDER BY duration
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0))
         END AS survival
  FROM at_risk)
SELECT duration, d AS n_events, CAST(n_risk AS BIGINT) AS n_at_risk,
       round(survival, 6) AS survival
FROM surv WHERE d > 0 ORDER BY duration
"""

QUERIES["survival_km"] = (survival_km, SURVIVAL_KM_SQL)


# --- multi-touch attribution --------------------------------------------

def attribution_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Marketing's linear multi-touch attribution: each purchase's
    value is split equally across the user's touches (views/clicks)
    since their previous purchase; touchless purchases credit
    '(direct)'.  The touch→conversion association is pure windows —
    p_idx = running count of PRIOR purchases partitions each user's
    history into inter-purchase episodes, and (user, episode) joins
    touches to their conversion with no self-join over raw events.
    Episode groups are user-local, so everything shuffles once by
    user and once by the final channel rollup."""
    from storagetapper_spark.plans.common import events_t

    ev = (events_t(spark, sf)
          .filter(F.col("event_type").isin("view", "click", "purchase"))
          .select("user_id", "event_id", "event_type", "ts", "value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    # r10 (guide §5): ep is referenced five times in the final plan
    # (touches, purchases and the raw-touch side, × the credited/direct
    # branches) — persist the narrow windowed projection so the
    # user-keyed window pass over events runs once.
    ep = ev.withColumn(
        "p_idx",
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)).over(w), F.lit(0))).persist()
    touches = (ep.filter(F.col("event_type") != "purchase")
               .groupBy("user_id", "p_idx")
               .agg(F.count(F.lit(1)).alias("n_touches")))
    purchases = (ep.filter(F.col("event_type") == "purchase")
                 .select("user_id", "p_idx",
                         F.col("value").alias("purchase_value")))
    joined = purchases.join(touches, ["user_id", "p_idx"], "left")
    credited = (ep.filter(F.col("event_type") != "purchase")
                .join(purchases, ["user_id", "p_idx"])
                .join(touches, ["user_id", "p_idx"])
                .select(F.col("event_type").alias("channel"),
                        (F.col("purchase_value") / F.col("n_touches"))
                        .alias("credit")))
    direct = (joined.filter(F.col("n_touches").isNull())
              .select(F.lit("(direct)").alias("channel"),
                      F.col("purchase_value").alias("credit")))
    return (credited.unionByName(direct)
            .groupBy("channel")
            .agg(F.count(F.lit(1)).alias("n_credits"),
                 F.round(F.sum(F.col("credit").cast("decimal(30,10)")), 2)
                  .cast("double").alias("attributed_value"))
            .orderBy("channel"))


ATTRIBUTION_SQL = """
WITH ev AS (
  SELECT user_id, event_id, event_type, ts, value,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS p_idx
  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
touches AS (SELECT user_id, p_idx, CAST(count(*) AS BIGINT) AS n_touches
            FROM ev WHERE event_type <> 'purchase'
            GROUP BY user_id, p_idx),
purchases AS (SELECT user_id, p_idx, value AS purchase_value
              FROM ev WHERE event_type = 'purchase'),
credited AS (
  SELECT e.event_type AS channel,
         p.purchase_value / t.n_touches AS credit
  FROM ev e
  JOIN purchases p ON e.user_id = p.user_id AND e.p_idx = p.p_idx
  JOIN touches t ON e.user_id = t.user_id AND e.p_idx = t.p_idx
  WHERE e.event_type <> 'purchase'),
direct AS (
  SELECT '(direct)' AS channel, p.purchase_value AS credit
  FROM purchases p LEFT JOIN touches t
    ON p.user_id = t.user_id AND p.p_idx = t.p_idx
  WHERE t.n_touches IS NULL),
unioned AS (SELECT * FROM credited UNION ALL SELECT * FROM direct)
SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
       CAST(round(sum(CAST(credit AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS attributed_value
FROM unioned GROUP BY channel ORDER BY channel
"""

QUERIES["attribution_linear"] = (attribution_linear, ATTRIBUTION_SQL)


# --- Neyman-allocation sample design ------------------------------------

_NEYMAN_BUDGET = 1000


def sample_neyman_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical sample DESIGN, the step before stratified sampling:
    Neyman allocation assigns a fixed label budget to strata
    proportionally to N_h·σ_h (stratum size × within-stratum spread of
    the target metric — here order totalprice by market segment), the
    allocation that minimizes estimator variance.  σ derives from
    exact sums (Σx, Σx², n) so the design is engine-portable; one
    aggregate per stratum plus a broadcast normalizer.  Allocations
    round half-up and are capped at the stratum size."""
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    # Σx, Σx² ride exact integer sums (cents and 1e-4-dollar² units —
    # the q1 idiom; raw double group sums vary with partial order);
    # σ is one shared double expression and the stratum weight is
    # 1e-6-quantized so the tiny cross-stratum normalizer sum is
    # order-free too.
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    strat = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .groupBy("c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_h"),
                  F.sum(cents).alias("sx_c"),
                  F.sum((cents.cast("decimal(19,0)") * cents)
                        .cast("decimal(38,0)")).alias("sxx_u")))
    mean_d = F.col("sx_c").cast("double") / F.col("n_h") / 100.0
    sigma = F.sqrt(F.col("sxx_u").cast("double") / F.col("n_h") / 1e4
                   - mean_d * mean_d)
    weighted = strat.select("c_mktsegment", "n_h",
                            F.round(F.col("n_h") * sigma * 1e6)
                            .cast("long").alias("w_u"),
                            F.round(sigma, 2).alias("sigma"))
    tot = weighted.agg(F.sum("w_u").alias("tw"))
    return (weighted.crossJoin(F.broadcast(tot))
            .select("c_mktsegment", "n_h", "sigma",
                    F.least(
                        F.col("n_h"),
                        F.round(F.lit(_NEYMAN_BUDGET)
                                * F.col("w_u").cast("double")
                                / F.col("tw").cast("double"), 0)
                        .cast("long")).alias("n_alloc"))
            .orderBy("c_mktsegment"))


NEYMAN_SQL = f"""
WITH strat AS (
  SELECT c.c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_h,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS sx_c,
         sum(CAST(CAST(CAST(round(o.o_totalprice * 100) AS BIGINT)
                       AS HUGEINT)
                  * CAST(round(o.o_totalprice * 100) AS BIGINT)
                  AS DECIMAL(38,0))) AS sxx_u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment),
sig AS (
  SELECT c_mktsegment, n_h,
         sqrt(CAST(sxx_u AS DOUBLE) / n_h / 1e4
              - (CAST(sx_c AS DOUBLE) / n_h / 100.0)
                * (CAST(sx_c AS DOUBLE) / n_h / 100.0)) AS sigma_raw
  FROM strat),
weighted AS (
  SELECT c_mktsegment, n_h,
         CAST(round(n_h * sigma_raw * 1e6) AS BIGINT) AS w_u,
         round(sigma_raw, 2) AS sigma
  FROM sig),
tot AS (SELECT sum(w_u) AS tw FROM weighted)
SELECT c_mktsegment, n_h, sigma,
       least(n_h, CAST(round({_NEYMAN_BUDGET} * CAST(w_u AS DOUBLE)
                             / CAST(tot.tw AS DOUBLE), 0) AS BIGINT))
         AS n_alloc
FROM weighted CROSS JOIN tot ORDER BY c_mktsegment
"""

QUERIES["sample_neyman_allocation"] = (sample_neyman_allocation, NEYMAN_SQL)


# --- RFM segmentation ----------------------------------------------------

def rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Customer-base segmentation by Recency / Frequency / Monetary
    quintiles — the marketing workhorse.  Per customer: days since
    last order (vs corpus max date), order count, total spend; each
    scored 1-5 by quintile over a TOTAL order (metric + custkey
    tiebreak, so the quintile boundaries are engine-exact); output is
    the segment-size matrix.

    Scale design: each score is a TWO-PASS rank (operators/ranks.py) —
    range-bucket by the metric (negated for the descending F/M sorts so
    the bucket id stays monotone in the sort order), parallel per-bucket
    row_number, tiny per-bucket offset window, ntile(5) derived
    arithmetically from the global rank.  No unpartitioned window ever
    sees the customer base, so the plan survives 10^9 customers; the
    shuffles scale with customers, not orders."""
    from storagetapper_spark.operators.ranks import (ntile_from_rank,
                                                     two_pass_rank)

    o = t(spark, sf, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("end_d"))
    cust = (o.groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("last_o"),
                 F.count(F.lit(1)).alias("frequency"),
                 F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(30,10)")), 2)
                  .cast("double").alias("monetary"))
            .crossJoin(F.broadcast(horizon))
            .select("o_custkey", "frequency", "monetary",
                    F.datediff("end_d", "last_o").alias("recency_days")))
    # recency: FEWER days = better → ascending rank gives 1=best;
    # frequency/monetary rank descending via negated sort key + bucket.
    # All THREE metrics ride ONE two-pass pipeline: explode to a
    # (metric_id, sort_key, bucket) long form, rank with the windows
    # partitioned by (metric, bucket), fold scores back with a
    # conditional agg.  Same shuffle volume as three passes but a third
    # of the stages — fixed stage latency, not data, dominates this
    # query's cost below ~10^8 customers.
    # no persist: the three references to cust (rank long-form twice,
    # monetary join) re-derive a cheap rollup; a persist+count costs an
    # extra fixed-latency action (measured 2.7 vs 1.6s at sf0.1).  At
    # 100 TB rank off a materialized customer table instead.
    long = cust.select(
        "o_custkey",
        F.explode(F.array(
            F.struct(F.lit(1).alias("mid"),
                     F.col("recency_days").cast("double").alias("key"),
                     F.floor(F.col("recency_days") / 30).alias("_bk")),
            F.struct(F.lit(2).alias("mid"),
                     (-F.col("frequency")).cast("double").alias("key"),
                     F.floor(-F.col("frequency")).alias("_bk")),
            F.struct(F.lit(3).alias("mid"),
                     (-F.col("monetary")).alias("key"),
                     F.floor(-F.col("monetary") / 10000.0).alias("_bk")),
        )).alias("m")).select("o_custkey", "m.*")
    loc_w = Window.partitionBy("mid", "_bk").orderBy("key", "o_custkey")
    loc = long.withColumn("_rn", F.row_number().over(loc_w))
    cnt = long.groupBy("mid", "_bk").agg(F.count(F.lit(1)).alias("_c"))
    off_w = (Window.partitionBy("mid").orderBy("_bk")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = cnt.withColumn("_off",
                          F.coalesce(F.sum("_c").over(off_w), F.lit(0)))
    tot = cnt.groupBy("mid").agg(F.sum("_c").alias("_n"))
    rank = F.col("_off") + F.col("_rn")
    score = ntile_from_rank(rank, F.col("_n"), 5)
    ranked = (loc.join(F.broadcast(offs.select("mid", "_bk", "_off")),
                       ["mid", "_bk"])
              .join(F.broadcast(tot), "mid")
              .select("o_custkey", "mid", score.alias("s")))
    scores = (ranked.groupBy("o_custkey")
              .agg(*[F.max(F.when(F.col("mid") == i, F.col("s")))
                     .alias(n) for i, n in
                     ((1, "r_score"), (2, "f_score"), (3, "m_score"))]))
    # avg over exact integer cents, ONE double division at the end:
    # round(avg(double), 2) was the round-8 sf0.1 flake — the float
    # sum's partial order varies per run, and a segment whose mean sat
    # on a .005 boundary hash-flipped between runs.  sum(BIGINT cents)
    # is order-free; the shared /n/100 division is IEEE-identical on
    # both engines (the cohort_ltv integer-cent lesson).
    cents = F.expr("CAST(round(monetary * 100) AS BIGINT)")
    return (scores.join(cust.select("o_custkey", "monetary"), "o_custkey")
            .groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(cents).alias("_sc"))
            .select("r_score", "f_score", "m_score", "n_customers",
                    (F.col("_sc").cast("double")
                     / F.col("n_customers") / 100.0).alias("avg_monetary"))
            .orderBy("r_score", "f_score", "m_score"))


RFM_SQL = """
WITH horizon AS (SELECT max(o_orderdate) AS end_d FROM orders),
cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)
              AS DOUBLE) AS monetary,
         date_diff('day', max(o_orderdate),
                   (SELECT end_d FROM horizon)) AS recency_days
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT o_custkey, monetary,
         ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM cust)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(round(monetary * 100) AS BIGINT)) AS DOUBLE)
         / count(*) / 100.0 AS avg_monetary
FROM scored GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""

QUERIES["rfm_segments"] = (rfm_segments, RFM_SQL)


# --- market concentration (HHI) -----------------------------------------

def market_concentration_hhi(spark: SparkSession, sf: str) -> DataFrame:
    """Market-concentration screening: the Herfindahl-Hirschman index
    (Σ share²·10000) of supplier revenue within each nation — the
    antitrust-style metric that flags single-supplier dependence in a
    supply chain.  One revenue rollup, one window for shares, one
    aggregate.  hhi = 10000·ΣQ/S² rides EXACT integer sums end-to-end
    (per-supplier revenue cents, their per-nation sum S and
    squared-sum Q — Q as decimal(38,0), cents² overflows int64), so
    the only float ops are the final shared divisions — order-free and
    engine-portable (a raw double Σshare² flakes like rfm did)."""
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_name")
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
                .alias("rev_cents"))
           .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("n_name", "rev_cents"))
    return (rev.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 # cast BEFORE the multiply: cents² overflows int64
                 F.sum((F.col("rev_cents").cast("decimal(19,0)")
                        * F.col("rev_cents")).cast("decimal(38,0)"))
                 .alias("_q"),
                 F.sum("rev_cents").alias("_s"),
                 F.max("rev_cents").alias("_top"))
            .select("n_name", "n_suppliers",
                    (F.col("_q").cast("double") * 10000.0
                     / F.col("_s").cast("double")
                     / F.col("_s").cast("double")).alias("hhi"),
                    (F.col("_top").cast("double")
                     / F.col("_s").cast("double")).alias("top_share"))
            .orderBy("n_name"))


HHI_SQL = """
WITH rev AS (
  SELECT n.n_name,
         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS rev_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, l.l_suppkey),
agg AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
         sum(CAST(CAST(rev_cents AS HUGEINT) * rev_cents
                  AS DECIMAL(38,0))) AS q,
         sum(rev_cents) AS s,
         max(rev_cents) AS top
  FROM rev GROUP BY n_name)
SELECT n_name, n_suppliers,
       CAST(q AS DOUBLE) * 10000.0 / CAST(s AS DOUBLE) / CAST(s AS DOUBLE)
         AS hhi,
       CAST(top AS DOUBLE) / CAST(s AS DOUBLE) AS top_share
FROM agg ORDER BY n_name
"""

QUERIES["market_concentration_hhi"] = (market_concentration_hhi, HHI_SQL)


# --- cohort LTV curves ---------------------------------------------------

def cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Finance's cohort lifetime-value curve: customers grouped by
    first-order month, cumulative revenue per customer tracked by
    month offset since acquisition — the complement of
    retention_cohorts (activity) with money attached.  Cumulative sums
    run per cohort over month offsets (tiny table after the rollup);
    revenue sums use exact decimals before the boundary round."""
    o = t(spark, sf, "orders")
    first = (o.groupBy("o_custkey")
             .agg(F.min(F.trunc("o_orderdate", "MM")).alias("cohort")))
    monthly = (o.join(F.broadcast(first), "o_custkey")
               .groupBy("cohort",
                        (F.months_between(
                            F.trunc("o_orderdate", "MM"),
                            F.col("cohort"))).cast("int")
                        .alias("month_offset"))
               .agg(F.sum(F.col("o_totalprice").cast("decimal(30,10)"))
                    .alias("rev")))
    sizes = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_cust"))
    w = (Window.partitionBy("cohort").orderBy("month_offset")
         .rowsBetween(Window.unboundedPreceding, 0))
    # per-customer LTV divides exact cumulative CENTS with integer
    # division — a double division can land exactly on a half-cent and
    # round differently per engine (observed at 2/1845 rows)
    cents = (F.sum("rev").over(w) * 100).cast("long")
    return (monthly.join(F.broadcast(sizes), "cohort")
            .withColumn("_cents", cents)
            .select(F.date_format("cohort", "yyyy-MM").alias("cohort"),
                    "month_offset", "n_cust",
                    (F.expr("_cents DIV n_cust") / 100.0)
                    .alias("cum_ltv_per_customer"))
            .orderBy("cohort", "month_offset"))


COHORT_LTV_SQL = """
WITH first AS (
  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey),
monthly AS (
  SELECT f.cohort,
         CAST(datediff('month', f.cohort,
                       date_trunc('month', o.o_orderdate)) AS INT)
           AS month_offset,
         sum(CAST(o.o_totalprice AS DECIMAL(30,10))) AS rev
  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY f.cohort, month_offset),
sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cust
          FROM first GROUP BY cohort)
SELECT strftime(m.cohort, '%Y-%m') AS cohort, m.month_offset, s.n_cust,
       (CAST(sum(m.rev) OVER (
                PARTITION BY m.cohort ORDER BY m.month_offset
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
             AS BIGINT) // s.n_cust) / 100.0 AS cum_ltv_per_customer
FROM monthly m JOIN sizes s ON m.cohort = s.cohort
ORDER BY cohort, month_offset
"""

QUERIES["cohort_ltv"] = (cohort_ltv, COHORT_LTV_SQL)


# --- week-over-week movers ----------------------------------------------

def wow_movers(spark: SparkSession, sf: str) -> DataFrame:
    """Operational reporting staple: week-over-week volume change per
    event type with the relative delta — the feed behind "top movers"
    dashboards and alert thresholds.  Weekly rollup (map-side
    combined) then one lag window per series; percent change divides
    exact BIGINT counts."""
    from storagetapper_spark.plans.common import events_t

    weekly = (events_t(spark, sf)
              .groupBy("event_type",
                       F.date_trunc("week", "ts").alias("week"))
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("event_type").orderBy("week")
    return (weekly
            .withColumn("prev_n", F.lag("n").over(w))
            .filter(F.col("prev_n").isNotNull())
            .select("event_type", F.to_date("week").alias("week"),
                    "n", "prev_n",
                    F.round((F.col("n") - F.col("prev_n"))
                            / F.col("prev_n"), 6).alias("wow_change"))
            .orderBy("event_type", "week"))


WOW_SQL = """
WITH weekly AS (
  SELECT event_type, date_trunc('week', ts) AS week,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('week', ts))
SELECT event_type, CAST(week AS DATE) AS week, n, prev_n,
       round((n - prev_n) / CAST(prev_n AS DOUBLE), 6) AS wow_change
FROM (SELECT event_type, week, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
      FROM weekly)
WHERE prev_n IS NOT NULL
ORDER BY event_type, week
"""

QUERIES["wow_movers"] = (wow_movers, WOW_SQL)


# --- ABC (80/15/5) revenue classification -------------------------------

def abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    """Inventory's ABC analysis (the discrete Pareto-80/20 cousin of
    gini_revenue): rank parts by revenue, classify by cumulative
    share — A up to 80%, B to 95%, C the tail — and report each
    class's item and revenue share.  One rollup, one ordered
    cumulative window over the part-level table, one 3-row aggregate;
    the classification threshold compares a cumulative share rounded
    identically in both engines."""
    li = t(spark, sf, "lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(30,10)"))
                .alias("rev")))
    tot = rev.agg(F.sum("rev").alias("t"))
    w = (Window.orderBy(F.col("rev").desc(), F.col("l_partkey"))
         .rowsBetween(Window.unboundedPreceding, 0))
    shared = (rev.crossJoin(F.broadcast(tot))
              .withColumn("cum_share",
                          F.round((F.sum("rev").over(w) / F.col("t"))
                                  .cast("double"), 9)))
    classed = shared.withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.80, "A")
         .when(F.col("cum_share") <= 0.95, "B").otherwise("C"))
    return (classed.groupBy("abc_class")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.round((F.sum("rev") / F.first("t")).cast("double"), 6)
                  .alias("revenue_share"))
            .orderBy("abc_class"))


ABC_SQL = """
WITH rev AS (SELECT l_partkey,
                    sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS rev
             FROM lineitem GROUP BY l_partkey),
tot AS (SELECT sum(rev) AS t FROM rev),
shared AS (
  SELECT l_partkey, rev,
         round(CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / tot.t AS DOUBLE), 9) AS cum_share,
         tot.t AS t
  FROM rev CROSS JOIN tot),
classed AS (
  SELECT *, CASE WHEN cum_share <= 0.80 THEN 'A'
                 WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
  FROM shared)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(rev) / any_value(t) AS DOUBLE), 6) AS revenue_share
FROM classed GROUP BY abc_class ORDER BY abc_class
"""

QUERIES["abc_classification"] = (abc_classification, ABC_SQL)


# --- order-to-ship cycle times ------------------------------------------

def cycle_time_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Fulfilment-ops metric: order-to-first-ship latency percentiles
    by order priority (p50/p90/max days from o_orderdate to the
    order's earliest l_shipdate).  The per-order min-ship rollup rides
    the natural join key; exact percentiles over integer day gaps are
    engine-portable (the approx_percentile swap-in is the 100 TB
    form, as with price_outliers_mad)."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey",
                                      "o_orderdate", "o_orderpriority")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    first_ship = (li.groupBy("l_orderkey")
                  .agg(F.min("l_shipdate").alias("first_ship")))
    gaps = (o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
            .select("o_orderpriority",
                    F.datediff("first_ship", "o_orderdate").alias("days")))
    return (gaps.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.percentile("days", 0.5), 2).alias("p50_days"),
                 F.round(F.percentile("days", 0.9), 2).alias("p90_days"),
                 F.max("days").alias("max_days"))
            .orderBy("o_orderpriority"))


CYCLE_TIME_SQL = """
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS first_ship
  FROM lineitem GROUP BY l_orderkey),
gaps AS (
  SELECT o.o_orderpriority,
         date_diff('day', o.o_orderdate, f.first_ship) AS days
  FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       round(quantile_cont(days, 0.5), 2) AS p50_days,
       round(quantile_cont(days, 0.9), 2) AS p90_days,
       CAST(max(days) AS BIGINT) AS max_days
FROM gaps GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["cycle_time_percentiles"] = (cycle_time_percentiles, CYCLE_TIME_SQL)


# --- embedding class-separation report ----------------------------------

def embedding_class_separation(spark: SparkSession, sf: str) -> DataFrame:
    """ML diagnostics: how separable are the labeled embedding classes?
    Per label pair: distance between class centroids, normalized by
    the two classes' mean within-class distance-to-centroid (a
    Fisher-style separation ratio >1 ⇒ classes are farther apart than
    they are wide).  Centroids come from a posexplode → per-(label,
    dimension) mean — the long form both engines aggregate identically
    — and the pair matrix is |labels|², always tiny.  The corpus is
    read once; only label×dim aggregates move."""
    emb = t(spark, sf, "embeddings")
    long = emb.select("label", "vec_id",
                      F.posexplode(F.col("embedding").cast("array<double>"))
                      .alias("pos", "v"))
    cent = (long.groupBy("label", "pos")
            .agg(F.avg("v").alias("c"), F.count(F.lit(1)).alias("n")))
    # within-class spread: mean distance of members to their centroid
    member_dev = (long.join(cent.select("label", "pos", "c"),
                            ["label", "pos"])
                  .groupBy("label", "vec_id")
                  .agg(F.sum((F.col("v") - F.col("c"))
                             * (F.col("v") - F.col("c"))).alias("d2")))
    spread = (member_dev.groupBy("label")
              .agg(F.avg(F.sqrt("d2")).alias("within")))
    a = cent.select(F.col("label").alias("la"), "pos",
                    F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), "pos",
                    F.col("c").alias("cb"))
    pair_d = (a.join(b, "pos")
              .filter(F.col("la") < F.col("lb"))
              .groupBy("la", "lb")
              .agg(F.sqrt(F.sum((F.col("ca") - F.col("cb"))
                                * (F.col("ca") - F.col("cb"))))
                   .alias("centroid_dist")))
    sa = spread.select(F.col("label").alias("la"),
                       F.col("within").alias("wa"))
    sb = spread.select(F.col("label").alias("lb"),
                       F.col("within").alias("wb"))
    return (pair_d.join(F.broadcast(sa), "la").join(F.broadcast(sb), "lb")
            .select("la", "lb",
                    F.round("centroid_dist", 6).alias("centroid_dist"),
                    F.round(F.col("centroid_dist")
                            / ((F.col("wa") + F.col("wb")) / 2.0), 4)
                     .alias("separation_ratio"))
            .orderBy("la", "lb"))


CLASS_SEP_SQL = """
WITH long AS (
  SELECT label, vec_id, i - 1 AS pos,
         CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
cent AS (SELECT label, pos, avg(v) AS c FROM long GROUP BY label, pos),
member_dev AS (
  SELECT l.label, l.vec_id, sum((l.v - c.c) * (l.v - c.c)) AS d2
  FROM long l JOIN cent c ON l.label = c.label AND l.pos = c.pos
  GROUP BY l.label, l.vec_id),
spread AS (SELECT label, avg(sqrt(d2)) AS within
           FROM member_dev GROUP BY label),
pair_d AS (
  SELECT a.label AS la, b.label AS lb,
         sqrt(sum((a.c - b.c) * (a.c - b.c))) AS centroid_dist
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label)
SELECT la, lb,
       round(centroid_dist, 6) AS centroid_dist,
       round(centroid_dist / ((sa.within + sb.within) / 2.0), 4)
         AS separation_ratio
FROM pair_d
JOIN spread sa ON pair_d.la = sa.label
JOIN spread sb ON pair_d.lb = sb.label
ORDER BY la, lb
"""

QUERIES["embedding_class_separation"] = (embedding_class_separation,
                                         CLASS_SEP_SQL)


# --- audience overlap matrix --------------------------------------------

def audience_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Audience analytics: pairwise Jaccard overlap of the user sets
    behind each event type ("do clickers also purchase?").  Exact
    distinct (event_type, user) pairs feed a self-join on user — the
    intersection counts arrive via one co-partitioned join, set sizes
    broadcast back, |A∪B| = |A|+|B|−|A∩B|.  The matrix is
    event-type² — always tiny; at 100 TB the exact sets swap for the
    per-type HLL sketches (streaming/sketches) with the same shape."""
    from storagetapper_spark.plans.common import events_t

    ev = (events_t(spark, sf)
          .select("event_type", "user_id").distinct())
    sizes = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = ev.alias("a"), ev.alias("b")
    inter = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("ta"),
                      F.col("b.event_type").alias("tb"))
             .agg(F.count(F.lit(1)).alias("n_both")))
    na = sizes.select(F.col("event_type").alias("ta"),
                      F.col("n").alias("n_a"))
    nb = sizes.select(F.col("event_type").alias("tb"),
                      F.col("n").alias("n_b"))
    return (inter.join(F.broadcast(na), "ta").join(F.broadcast(nb), "tb")
            .select("ta", "tb", "n_both", "n_a", "n_b",
                    F.round(F.col("n_both")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_both")), 6).alias("jaccard"))
            .orderBy("ta", "tb"))


AUDIENCE_OVERLAP_SQL = """
WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM ev GROUP BY event_type),
inter AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ev a JOIN ev b ON a.user_id = b.user_id
                     AND a.event_type < b.event_type
  GROUP BY ta, tb)
SELECT ta, tb, n_both, sa.n AS n_a, sb.n AS n_b,
       round(n_both / CAST(sa.n + sb.n - n_both AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes sa ON inter.ta = sa.event_type
           JOIN sizes sb ON inter.tb = sb.event_type
ORDER BY ta, tb
"""

QUERIES["audience_overlap"] = (audience_overlap, AUDIENCE_OVERLAP_SQL)


# --- winsorized robust means --------------------------------------------

def winsorized_prices(spark: SparkSession, sf: str) -> DataFrame:
    """Robust-statistics companion to the MAD fences: per part type, compare the raw mean of extended prices with the winsorized
    mean (values clamped to [p05, p95] before averaging) — the spread
    between them measures how much tail mass distorts the plain
    average.  Exact grouped percentiles broadcast back; a clamp and a
    second pass.  Sums run in decimal so both engines agree before
    the boundary round."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf, "part").select("p_partkey", "p_type")
    # r10: persist the narrow priced projection (fence pass + clamp
    # pass both consume it), and compute both fences from ONE
    # percentile(col, array(...)) sort buffer instead of two — same
    # exact algorithm and interpolation, half the agg memory.
    priced = (li.join(F.broadcast(p),
                      F.col("l_partkey") == F.col("p_partkey"))
              .select("p_type", "l_extendedprice").persist())
    fences = (priced.groupBy("p_type")
              .agg(F.percentile("l_extendedprice",
                                F.array(F.lit(0.05), F.lit(0.95)))
                   .alias("_f"))
              .select("p_type", F.col("_f")[0].alias("lo"),
                      F.col("_f")[1].alias("hi")))
    clamped = (priced.join(F.broadcast(fences), "p_type")
               .withColumn("wx", F.least(F.greatest(
                   F.col("l_extendedprice"), F.col("lo")), F.col("hi"))))
    return (clamped.groupBy("p_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 # exact unit sums + shared divisions (q1 idiom): the
                 # raw mean over cents, the winsorized mean over
                 # 1e-6-quantized clamped values (clamped rows carry
                 # the fence double, identical in both engines)
                 (F.sum(F.expr("CAST(round(l_extendedprice * 100)"
                               " AS BIGINT)")).cast("double")
                  / F.count(F.lit(1)) / 100.0).alias("raw_mean"),
                 (F.sum(F.round(F.col("wx") * 1e6).cast("long"))
                  .cast("double") / F.count(F.lit(1)) / 1e6)
                 .alias("winsorized_mean"))
            .orderBy("p_type"))


WINSOR_SQL = """
WITH priced AS (
  SELECT p.p_type, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
fences AS (
  SELECT p_type,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM priced GROUP BY p_type)
SELECT priced.p_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / count(*) / 100.0 AS raw_mean,
       CAST(sum(CAST(round(least(greatest(l_extendedprice, lo), hi) * 1e6)
                     AS BIGINT)) AS DOUBLE)
         / count(*) / 1e6 AS winsorized_mean
FROM priced JOIN fences ON priced.p_type = fences.p_type
GROUP BY priced.p_type ORDER BY priced.p_type
"""

QUERIES["winsorized_prices"] = (winsorized_prices, WINSOR_SQL)


# --- dedup savings accounting -------------------------------------------

def dedup_savings(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup business case in one table: per source, how many
    documents are exact duplicates (by content hash) and how many
    BYTES disappear when each duplicate group keeps one canonical copy
    — the number that justifies the pipeline stage.  One hash rollup
    (map-side combined), no text in the shuffle beyond the 32-byte
    digest."""
    docs = t(spark, sf, "documents")
    groups = (docs.groupBy("source", F.md5("text").alias("h"))
              .agg(F.count(F.lit(1)).alias("copies"),
                   F.sum("n_chars").alias("grp_chars"),
                   F.min("n_chars").alias("keep_chars")))
    return (groups.groupBy("source")
            .agg(F.sum("copies").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_unique"),
                 (F.sum("copies") - F.count(F.lit(1))).alias("n_dropped"),
                 F.sum(F.col("grp_chars") - F.col("keep_chars"))
                  .alias("chars_saved"))
            .orderBy("source"))


DEDUP_SAVINGS_SQL = """
WITH groups AS (
  SELECT source, md5(text) AS h,
         CAST(count(*) AS BIGINT) AS copies,
         CAST(sum(n_chars) AS BIGINT) AS grp_chars,
         CAST(min(n_chars) AS BIGINT) AS keep_chars
  FROM documents GROUP BY source, md5(text))
SELECT source,
       CAST(sum(copies) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum(copies) - count(*) AS BIGINT) AS n_dropped,
       CAST(sum(grp_chars - keep_chars) AS BIGINT) AS chars_saved
FROM groups GROUP BY source ORDER BY source
"""

QUERIES["dedup_savings"] = (dedup_savings, DEDUP_SAVINGS_SQL)


# --- SLO error-budget burn rate -----------------------------------------

_SLO_BUDGET = 0.25  # error share the SLO tolerates


def slo_burn_rate(spark: SparkSession, sf: str) -> DataFrame:
    """SRE error-budget accounting: daily error share vs the SLO
    budget, the burn rate (share/budget — >1 means the budget depletes
    faster than it accrues), and the 7-day rolling burn that pages
    before a slow leak exhausts the month.  Daily conditional
    aggregate then two windows over the (tiny) day table; exact
    BIGINT counts divide at the boundary."""
    from storagetapper_spark.plans.common import events_t

    daily = (events_t(spark, sf)
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n_total"),
                  F.sum(F.when(F.col("event_type") == "error", 1)
                        .otherwise(0)).alias("n_err")))
    w7 = (Window.orderBy("day").rowsBetween(-6, 0))
    return (daily
            .withColumn("share", F.col("n_err") / F.col("n_total"))
            .withColumn("r7_err", F.sum("n_err").over(w7))
            .withColumn("r7_tot", F.sum("n_total").over(w7))
            .select("day", "n_total", "n_err",
                    F.round(F.col("share") / _SLO_BUDGET, 6)
                     .alias("burn_rate"),
                    F.round((F.col("r7_err") / F.col("r7_tot"))
                            / _SLO_BUDGET, 6).alias("burn_rate_7d"))
            .orderBy("day"))


SLO_BURN_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY CAST(ts AS DATE))
SELECT day, n_total, n_err,
       round((n_err / CAST(n_total AS DOUBLE)) / {_SLO_BUDGET}, 6)
         AS burn_rate,
       round((sum(n_err) OVER (ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
              / CAST(sum(n_total) OVER (ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE))
             / {_SLO_BUDGET}, 6) AS burn_rate_7d
FROM daily ORDER BY day
"""

QUERIES["slo_burn_rate"] = (slo_burn_rate, SLO_BURN_SQL)


# --- single-source supply risk ------------------------------------------

def single_source_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Supply-chain risk screening: per brand, how many shipped parts
    depend on exactly ONE supplier (no fallback if it fails), with the
    share of brand revenue those parts carry.  Two rollups on the
    natural keys; the supplier-count distinct rides the same shuffle
    as the revenue sum."""
    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part").select("p_partkey", "p_brand")
    per_part = (li.groupBy("l_partkey")
                .agg(F.countDistinct("l_suppkey").alias("n_suppliers"),
                     F.sum(F.col("l_extendedprice").cast("decimal(30,10)"))
                      .alias("rev")))
    branded = per_part.join(F.broadcast(p),
                            F.col("l_partkey") == F.col("p_partkey"))
    single = F.when(F.col("n_suppliers") == 1, 1).otherwise(0)
    return (branded.groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum(single).alias("n_single_source"),
                 F.round((F.sum(F.when(F.col("n_suppliers") == 1,
                                       F.col("rev")).otherwise(0))
                          / F.sum("rev")).cast("double"), 6)
                  .alias("single_source_rev_share"))
            .orderBy("p_brand"))


SINGLE_SOURCE_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
         sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS rev
  FROM lineitem GROUP BY l_partkey)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_source,
       round(CAST(sum(CASE WHEN n_suppliers = 1 THEN rev ELSE 0 END)
                  / sum(rev) AS DOUBLE), 6) AS single_source_rev_share
FROM per_part pp JOIN part p ON pp.l_partkey = p.p_partkey
GROUP BY p.p_brand ORDER BY p.p_brand
"""

QUERIES["single_source_parts"] = (single_source_parts, SINGLE_SOURCE_SQL)


# --- log-normal text-length fit -----------------------------------------

def text_length_lognormal(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution fitting for corpus QA: document lengths are
    classically log-normal, so fit (μ, σ) of ln(n_chars) per language
    and report the implied median (e^μ) next to the EMPIRICAL median —
    a large gap flags a mixture (two populations in one language
    bucket, e.g. boilerplate + prose).  μ, σ are the quantized
    statistics over 1e-9-unit BIGINT sums of ln / ln² (per-row units
    are identical doubles in both engines; integer sums are order-free
    where a raw double Σln varies per run), finished by shared double
    divisions; only e^μ keeps a display round because engine libm exp
    may differ in the last ulp."""
    docs = t(spark, sf, "documents").filter(F.col("n_chars") > 0)
    lx = F.log(F.col("n_chars").cast("double"))
    q1 = F.round(lx * 1e9).cast("long")        # ln in 1e-9 units
    q2 = F.round(lx * lx * 1e9).cast("long")   # ln² in 1e-9 units
    n = F.count(F.lit(1))
    mu = F.sum(q1).cast("double") / n / 1e9
    ex2 = F.sum(q2).cast("double") / n / 1e9
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 mu.alias("mu"),
                 F.sqrt(ex2 - mu * mu).alias("sigma"),
                 F.round(F.exp(mu), 2).alias("fitted_median"),
                 F.round(F.percentile("n_chars", 0.5), 2)
                  .alias("empirical_median"))
            .orderBy("lang"))


TEXT_LOGNORMAL_SQL = """
WITH q AS (
  SELECT lang,
         CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1e9) AS BIGINT) AS q1,
         CAST(round(ln(CAST(n_chars AS DOUBLE))
                    * ln(CAST(n_chars AS DOUBLE)) * 1e9) AS BIGINT) AS q2,
         n_chars
  FROM documents WHERE n_chars > 0
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(q1) AS DOUBLE) / count(*) / 1e9 AS mu,
       sqrt(CAST(sum(q2) AS DOUBLE) / count(*) / 1e9
            - (CAST(sum(q1) AS DOUBLE) / count(*) / 1e9)
              * (CAST(sum(q1) AS DOUBLE) / count(*) / 1e9)) AS sigma,
       round(exp(CAST(sum(q1) AS DOUBLE) / count(*) / 1e9), 2)
         AS fitted_median,
       round(quantile_cont(n_chars, 0.5), 2) AS empirical_median
FROM q GROUP BY lang ORDER BY lang
"""

QUERIES["text_length_lognormal"] = (text_length_lognormal,
                                    TEXT_LOGNORMAL_SQL)


# --- monthly revenue seasonality ----------------------------------------

def seasonality_month(spark: SparkSession, sf: str) -> DataFrame:
    """The order-revenue companion to seasonality_weekday: per calendar
    month (1-12), mean monthly revenue vs the all-months mean — the
    multiplicative index a forecaster divides out before trending.
    Revenue sums stay decimal-exact until the boundary; the month
    rollup is two tiny aggregates over the per-(year, month) table."""
    o = t(spark, sf, "orders")
    ym = (o.groupBy(F.year("o_orderdate").alias("y"),
                    F.month("o_orderdate").alias("m"))
          .agg(F.sum(F.col("o_totalprice").cast("decimal(30,10)"))
               .alias("rev")))
    overall = ym.agg((F.sum("rev") / F.count(F.lit(1))).alias("mu"))
    return (ym.groupBy("m")
            .agg(F.count(F.lit(1)).alias("n_months"),
                 (F.sum("rev") / F.count(F.lit(1))).alias("_avg"))
            .crossJoin(F.broadcast(overall))
            .select(F.col("m").alias("month"), "n_months",
                    F.round(F.col("_avg").cast("double"), 2)
                     .alias("avg_revenue"),
                    F.round((F.col("_avg") / F.col("mu")).cast("double"), 6)
                     .alias("seasonal_index"))
            .orderBy("month"))


SEASONALITY_MONTH_SQL = """
WITH ym AS (
  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
         sum(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
  FROM orders GROUP BY year(o_orderdate), month(o_orderdate)),
overall AS (SELECT sum(rev) / count(*) AS mu FROM ym)
SELECT m AS month, CAST(count(*) AS BIGINT) AS n_months,
       round(CAST(sum(rev) / count(*) AS DOUBLE), 2) AS avg_revenue,
       round(CAST((sum(rev) / count(*)) / any_value(overall.mu)
             AS DOUBLE), 6) AS seasonal_index
FROM ym CROSS JOIN overall GROUP BY m ORDER BY month
"""

QUERIES["seasonality_month"] = (seasonality_month, SEASONALITY_MONTH_SQL)


# --- repeat-purchase intervals ------------------------------------------

def repeat_purchase_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Replenishment analytics: the distribution of days between a
    customer's consecutive orders (median / p90 per market segment) —
    the number that sets reorder-reminder timing and churn-risk
    windows.  One lag window per customer over order dates, exact
    integer day gaps, grouped percentiles."""
    o = t(spark, sf, "orders").select("o_custkey", "o_orderkey",
                                      "o_orderdate")
    c = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (o.withColumn("prev_d", F.lag("o_orderdate").over(w))
            .filter(F.col("prev_d").isNotNull())
            .select("o_custkey",
                    F.datediff("o_orderdate", "prev_d").alias("gap_days")))
    return (gaps.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_intervals"),
                 F.round(F.percentile("gap_days", 0.5), 2).alias("p50_days"),
                 F.round(F.percentile("gap_days", 0.9), 2).alias("p90_days"))
            .orderBy("c_mktsegment"))


REPEAT_INTERVALS_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day', lag(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           o_orderdate) AS gap_days
  FROM orders)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_intervals,
       round(quantile_cont(gap_days, 0.5), 2) AS p50_days,
       round(quantile_cont(gap_days, 0.9), 2) AS p90_days
FROM gaps JOIN customer c ON gaps.o_custkey = c.c_custkey
WHERE gap_days IS NOT NULL
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""

QUERIES["repeat_purchase_intervals"] = (repeat_purchase_intervals,
                                        REPEAT_INTERVALS_SQL)


# --- discount-band effectiveness ----------------------------------------

def discount_effectiveness(spark: SparkSession, sf: str) -> DataFrame:
    """Pricing analytics: does a deeper discount move more units?  Per
    discount band (exact cents — l_discount is 0.00-0.10 in 0.01
    steps): line count, average quantity, and revenue per line — the
    elasticity read-out behind promotion planning (q6/q19's decision
    support cousin, aggregated instead of filtered).  Single scan, one
    small-group aggregate; both means are exact unit sums + shared
    divisions (q1 idiom: quantity integral, net revenue in 1e-4-dollar
    units)."""
    li = t(spark, sf, "lineitem")
    band = F.round(F.col("l_discount") * 100).cast("int").alias("discount_pct")
    return (li.groupBy(band)
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 (F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                  / F.count(F.lit(1))).alias("avg_quantity"),
                 (F.sum(F.expr(
                      "CAST(round(l_extendedprice * 100) AS BIGINT)"
                      " * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
                  .cast("double") / F.count(F.lit(1)) / 10000.0)
                 .alias("avg_net_revenue"))
            .orderBy("discount_pct"))


DISCOUNT_SQL = """
SELECT CAST(round(l_discount * 100) AS INT) AS discount_pct,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*)
         AS avg_quantity,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS DOUBLE) / count(*) / 10000.0 AS avg_net_revenue
FROM lineitem
GROUP BY CAST(round(l_discount * 100) AS INT) ORDER BY discount_pct
"""

QUERIES["discount_effectiveness"] = (discount_effectiveness, DISCOUNT_SQL)


# --- approx-percentile scale twins ---------------------------------------
# The exact-percentile queries above stay oracle-green; these are their
# 100-TB forms (VERDICT r3 #5): percentile() sorts every group in one
# task per group, approx_percentile folds a mergeable sketch map-side —
# the ONLY plan that survives when a group no longer fits an executor.
# Approx VALUES are engine-specific (DuckDB can't reproduce Spark's GK
# sketch), so the registered queries are ε-tolerance CERTIFIED forms
# (VERDICT r6 #4): Spark checks its own sketch output against the exact
# order-statistic band the GK bound guarantees — rank error ≤ n/accuracy
# (Greenwald–Khanna, the contract Spark documents as
# "relative error = 1.0/accuracy"), widened by ±1 rank for boundary
# rounding — and emits booleans next to exact-hashable columns; the
# DuckDB oracle emits the contract (TRUE) plus the same exact columns,
# so a sketch that ever leaves its error band FAILS the hash gate.
# The raw value forms live on as *_values (bench/parity surface,
# pinned to the exact twins by tests/test_approx_percentile_twins.py);
# at 100 TB you deploy the *_values plan and run the certified form as
# an audit, exactly like the ann_*_recall audits.


def _pct_bands(rows: DataFrame, key: str, col: str,
               ps: list, acc: int) -> DataFrame:
    """Per-key exact rank bands certifying percentile_approx(col, p, acc):
    for each (name, p) the sketch output must lie between the order
    statistics at ranks floor((p−ε)·n)−1 and ceil((p+ε)·n)+1, ε=1/acc.
    One partitioned window sort per key — the same shuffle the exact
    twin pays, acceptable here because this is the audit form."""
    from pyspark.sql import Window
    wn = Window.partitionBy(key)
    wo = Window.partitionBy(key).orderBy(col)
    r = rows.select(key, col,
                    F.row_number().over(wo).alias("_rn"),
                    F.count(F.lit(1)).over(wn).alias("_n"))
    eps = 1.0 / acc
    aggs = []
    for name, p in ps:
        lo_r = F.greatest(F.lit(1).cast("long"),
                          F.floor((F.lit(p) - eps) * F.col("_n")) - 1)
        hi_r = F.least(F.col("_n"),
                       F.ceil((F.lit(p) + eps) * F.col("_n")) + 1)
        aggs.append(F.min(F.when(F.col("_rn") >= lo_r, F.col(col)))
                    .alias(f"{name}_lo"))
        aggs.append(F.max(F.when(F.col("_rn") <= hi_r, F.col(col)))
                    .alias(f"{name}_hi"))
    return r.groupBy(key).agg(*aggs)


def price_outliers_mad_approx_values(spark: SparkSession,
                                     sf: str) -> DataFrame:
    """price_outliers_mad with approx_percentile(…, 10000) — identical
    shape: two grouped sketch aggregates, broadcast stats join back."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf, "part").select("p_partkey", "p_brand")
    priced = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    med = (priced.groupBy("p_brand")
           .agg(F.percentile_approx("l_extendedprice", 0.5, 10000)
                .alias("med")))
    dev = (priced.join(F.broadcast(med), "p_brand")
           .withColumn("adev", F.abs(F.col("l_extendedprice") - F.col("med"))))
    mad = dev.groupBy("p_brand").agg(
        F.percentile_approx("adev", 0.5, 10000).alias("mad"),
        F.first("med").alias("med"))
    return (dev.drop("med")
            .join(F.broadcast(mad), "p_brand")
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.first("med"), 2).alias("median_price"),
                 F.round(F.first("mad"), 2).alias("mad"),
                 F.sum(F.when(F.abs(F.col("l_extendedprice")
                                    - F.col("med"))
                              > 3.0 * F.col("mad"), 1).otherwise(0))
                  .alias("n_outliers"))
            .orderBy("p_brand"))


def price_outliers_mad_approx(spark: SparkSession, sf: str) -> DataFrame:
    """ε-certified price_outliers_mad_approx_values: both sketch
    medians (price per brand, then absolute deviation from that sketch
    median) must sit inside their exact GK rank bands.  Output is
    exact-hashable (brand, n) plus the two certification booleans; the
    oracle asserts the contract, so a band violation is a driver
    FAILURE, not a silent drift."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf, "part").select("p_partkey", "p_brand")
    priced = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    med = (priced.groupBy("p_brand")
           .agg(F.count(F.lit(1)).alias("n"),
                F.percentile_approx("l_extendedprice", 0.5, 10000)
                .alias("amed")))
    med_b = _pct_bands(priced, "p_brand", "l_extendedprice",
                       [("med", 0.5)], 10000)
    dev = (priced.join(F.broadcast(med.select("p_brand", "amed")), "p_brand")
           .withColumn("adev",
                       F.abs(F.col("l_extendedprice") - F.col("amed"))))
    mad = (dev.groupBy("p_brand")
           .agg(F.percentile_approx("adev", 0.5, 10000).alias("amad")))
    mad_b = _pct_bands(dev, "p_brand", "adev", [("mad", 0.5)], 10000)
    return (med.join(med_b, "p_brand").join(mad, "p_brand")
            .join(mad_b, "p_brand")
            .select("p_brand", "n",
                    ((F.col("amed") >= F.col("med_lo"))
                     & (F.col("amed") <= F.col("med_hi")))
                    .alias("med_in_band"),
                    ((F.col("amad") >= F.col("mad_lo"))
                     & (F.col("amad") <= F.col("mad_hi")))
                    .alias("mad_in_band"))
            .orderBy("p_brand"))


MAD_APPROX_SQL = """
SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n,
       TRUE AS med_in_band, TRUE AS mad_in_band
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand ORDER BY p.p_brand
"""

QUERIES["price_outliers_mad_approx"] = (price_outliers_mad_approx,
                                        MAD_APPROX_SQL)


def cycle_time_percentiles_approx_values(spark: SparkSession,
                                         sf: str) -> DataFrame:
    """cycle_time_percentiles with sketch percentiles (p50/p90)."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate",
                                      "o_orderpriority")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    first_ship = (li.groupBy("l_orderkey")
                  .agg(F.min("l_shipdate").alias("first_ship")))
    gaps = (o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
            .select("o_orderpriority",
                    F.datediff("first_ship", "o_orderdate").alias("days")))
    return (gaps.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.percentile_approx("days", 0.5, 10000), 2)
                  .alias("p50_days"),
                 F.round(F.percentile_approx("days", 0.9, 10000), 2)
                  .alias("p90_days"),
                 F.max("days").alias("max_days"))
            .orderBy("o_orderpriority"))


def cycle_time_percentiles_approx(spark: SparkSession,
                                  sf: str) -> DataFrame:
    """ε-certified cycle_time_percentiles_approx_values: the p50/p90
    day-gap sketches must sit inside their exact GK rank bands.
    n_orders and max_days stay exact-hashable."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate",
                                      "o_orderpriority")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    first_ship = (li.groupBy("l_orderkey")
                  .agg(F.min("l_shipdate").alias("first_ship")))
    gaps = (o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
            .select("o_orderpriority",
                    F.datediff("first_ship", "o_orderdate").alias("days")))
    sk = (gaps.groupBy("o_orderpriority")
          .agg(F.count(F.lit(1)).alias("n_orders"),
               F.percentile_approx("days", 0.5, 10000).alias("a50"),
               F.percentile_approx("days", 0.9, 10000).alias("a90"),
               F.max("days").alias("max_days")))
    bands = _pct_bands(gaps, "o_orderpriority", "days",
                       [("p50", 0.5), ("p90", 0.9)], 10000)
    return (sk.join(bands, "o_orderpriority")
            .select("o_orderpriority", "n_orders", "max_days",
                    ((F.col("a50") >= F.col("p50_lo"))
                     & (F.col("a50") <= F.col("p50_hi")))
                    .alias("p50_in_band"),
                    ((F.col("a90") >= F.col("p90_lo"))
                     & (F.col("a90") <= F.col("p90_hi")))
                    .alias("p90_in_band"))
            .orderBy("o_orderpriority"))


CYCLE_APPROX_SQL = """
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS first_ship
  FROM lineitem GROUP BY l_orderkey),
gaps AS (
  SELECT o.o_orderpriority,
         date_diff('day', o.o_orderdate, f.first_ship) AS days
  FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(max(days) AS BIGINT) AS max_days,
       TRUE AS p50_in_band, TRUE AS p90_in_band
FROM gaps GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["cycle_time_percentiles_approx"] = (cycle_time_percentiles_approx,
                                            CYCLE_APPROX_SQL)


def winsorized_prices_approx_values(spark: SparkSession,
                                    sf: str) -> DataFrame:
    """winsorized_prices with sketch fences (p05/p95)."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf, "part").select("p_partkey", "p_type")
    priced = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    fences = (priced.groupBy("p_type")
              .agg(F.percentile_approx("l_extendedprice", 0.05, 10000)
                   .alias("lo"),
                   F.percentile_approx("l_extendedprice", 0.95, 10000)
                   .alias("hi")))
    clamped = (priced.join(F.broadcast(fences), "p_type")
               .withColumn("wx", F.least(F.greatest(
                   F.col("l_extendedprice"), F.col("lo")), F.col("hi"))))
    return (clamped.groupBy("p_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 # exact unit sums + shared divisions (q1 idiom): the
                 # raw mean over cents, the winsorized mean over
                 # 1e-6-quantized clamped values (clamped rows carry
                 # the fence double, identical in both engines)
                 (F.sum(F.expr("CAST(round(l_extendedprice * 100)"
                               " AS BIGINT)")).cast("double")
                  / F.count(F.lit(1)) / 100.0).alias("raw_mean"),
                 (F.sum(F.round(F.col("wx") * 1e6).cast("long"))
                  .cast("double") / F.count(F.lit(1)) / 1e6)
                 .alias("winsorized_mean"))
            .orderBy("p_type"))


def winsorized_prices_approx(spark: SparkSession, sf: str) -> DataFrame:
    """ε-certified winsorized_prices_approx_values: the p05/p95 sketch
    fences must sit inside their exact GK rank bands.  n and the
    (fence-independent) raw mean stay exact-hashable."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf, "part").select("p_partkey", "p_type")
    priced = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    sk = (priced.groupBy("p_type")
          .agg(F.count(F.lit(1)).alias("n"),
               (F.sum(F.expr("CAST(round(l_extendedprice * 100)"
                             " AS BIGINT)")).cast("double")
                / F.count(F.lit(1)) / 100.0).alias("raw_mean"),
               F.percentile_approx("l_extendedprice", 0.05, 10000)
               .alias("alo"),
               F.percentile_approx("l_extendedprice", 0.95, 10000)
               .alias("ahi")))
    bands = _pct_bands(priced, "p_type", "l_extendedprice",
                       [("p05", 0.05), ("p95", 0.95)], 10000)
    return (sk.join(bands, "p_type")
            .select("p_type", "n", "raw_mean",
                    ((F.col("alo") >= F.col("p05_lo"))
                     & (F.col("alo") <= F.col("p05_hi")))
                    .alias("p05_in_band"),
                    ((F.col("ahi") >= F.col("p95_lo"))
                     & (F.col("ahi") <= F.col("p95_hi")))
                    .alias("p95_in_band"))
            .orderBy("p_type"))


WINSOR_APPROX_SQL = """
SELECT p.p_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / count(*) / 100.0 AS raw_mean,
       TRUE AS p05_in_band, TRUE AS p95_in_band
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_type ORDER BY p.p_type
"""

QUERIES["winsorized_prices_approx"] = (winsorized_prices_approx,
                                       WINSOR_APPROX_SQL)


# --- two-pass-rank exact forms of the percentile family ------------------
# Same oracles as their percentile() siblings (both are exact
# percentile_cont), but every ranking runs through
# operators/ranks.exact_percentiles — parallel across range buckets, no
# per-group single-task sort — so the exact answer survives 100 TB.
# At production scale the intermediate frames (gaps, priced) would be
# materialized tables; here they are scanned per rank pass (scans beat
# caching a corpus).

def price_outliers_mad_tpr(spark: SparkSession, sf: str) -> DataFrame:
    """price_outliers_mad with rank-based exact medians."""
    from storagetapper_spark.operators.ranks import exact_percentiles

    li = t(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf, "part").select("p_partkey", "p_brand")
    # r10 (guide §5): the broadcast join feeds the median rank pass
    # (2 evaluations inside exact_percentiles), the deviation table and
    # the final fence count — persist the narrow (brand, price)
    # projection once; same for dev (the MAD rank pass + final agg).
    priced = (li.join(F.broadcast(p),
                      F.col("l_partkey") == F.col("p_partkey"))
              .select("p_brand", "l_extendedprice").persist())
    med = (exact_percentiles(priced, "l_extendedprice", [0.5],
                             F.floor(F.col("l_extendedprice") / F.lit(2000.0)),
                             partition=["p_brand"])
           .withColumnRenamed("p_0_5", "med"))
    dev = (priced.join(F.broadcast(med), "p_brand")
           .withColumn("adev", F.abs(F.col("l_extendedprice") - F.col("med")))
           .persist())
    mad = (exact_percentiles(dev, "adev", [0.5],
                             F.floor(F.col("adev") / F.lit(1000.0)),
                             partition=["p_brand"])
           .withColumnRenamed("p_0_5", "mad"))
    return (dev.join(F.broadcast(mad), "p_brand")
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.first("med"), 2).alias("median_price"),
                 F.round(F.first("mad"), 2).alias("mad"),
                 F.sum(F.when(F.abs(F.col("l_extendedprice")
                                    - F.col("med"))
                              > 3.0 * F.col("mad"), 1).otherwise(0))
                  .alias("n_outliers"))
            .orderBy("p_brand"))


QUERIES["price_outliers_mad_tpr"] = (price_outliers_mad_tpr, MAD_SQL)


def cycle_time_percentiles_tpr(spark: SparkSession, sf: str) -> DataFrame:
    """cycle_time_percentiles with rank-based exact p50/p90."""
    from storagetapper_spark.operators.ranks import exact_percentiles

    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate",
                                      "o_orderpriority")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    first_ship = (li.groupBy("l_orderkey")
                  .agg(F.min("l_shipdate").alias("first_ship")))
    # r10: measured persist here and REVERTED it — the rank pass's two
    # reads share the groupBy exchange via ReuseExchange, so caching the
    # join output only added materialization cost (interleaved A/B at
    # sf0.1: 1.7-1.9s unpersisted vs 2.4-3.5s persisted).
    gaps = (o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
            .select("o_orderpriority",
                    F.datediff("first_ship", "o_orderdate").alias("days")))
    pct = exact_percentiles(gaps, "days", [0.5, 0.9],
                            F.floor(F.col("days") / F.lit(10.0)),
                            partition=["o_orderpriority"])
    base = (gaps.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.max("days").alias("max_days")))
    return (base.join(F.broadcast(pct), "o_orderpriority")
            .select("o_orderpriority", "n_orders",
                    F.round("p_0_5", 2).alias("p50_days"),
                    F.round("p_0_9", 2).alias("p90_days"),
                    "max_days")
            .orderBy("o_orderpriority"))


QUERIES["cycle_time_percentiles_tpr"] = (cycle_time_percentiles_tpr,
                                         CYCLE_TIME_SQL)


def winsorized_prices_tpr(spark: SparkSession, sf: str) -> DataFrame:
    """winsorized_prices with rank-based exact p05/p95 fences."""
    from storagetapper_spark.operators.ranks import exact_percentiles

    li = t(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf, "part").select("p_partkey", "p_type")
    # r10: measured a persist here and REVERTED it — the rank pass's
    # reads share the scan+broadcast-join via ReuseExchange, and caching
    # the 2-col join output measured consistently SLOWER (interleaved
    # A/B at sf0.1: 2.6-2.7s unpersisted vs 4.4-4.6s persisted).  The
    # narrow projection (guide §2.3) is kept.
    priced = (li.join(F.broadcast(p),
                      F.col("l_partkey") == F.col("p_partkey"))
              .select("p_type", "l_extendedprice"))
    fences = (exact_percentiles(priced, "l_extendedprice", [0.05, 0.95],
                                F.floor(F.col("l_extendedprice")
                                        / F.lit(2000.0)),
                                partition=["p_type"])
              .select("p_type", F.col("p_0_05").alias("lo"),
                      F.col("p_0_95").alias("hi")))
    clamped = (priced.join(F.broadcast(fences), "p_type")
               .withColumn("wx", F.least(F.greatest(
                   F.col("l_extendedprice"), F.col("lo")), F.col("hi"))))
    return (clamped.groupBy("p_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 # exact unit sums + shared divisions (q1 idiom): the
                 # raw mean over cents, the winsorized mean over
                 # 1e-6-quantized clamped values (clamped rows carry
                 # the fence double, identical in both engines)
                 (F.sum(F.expr("CAST(round(l_extendedprice * 100)"
                               " AS BIGINT)")).cast("double")
                  / F.count(F.lit(1)) / 100.0).alias("raw_mean"),
                 (F.sum(F.round(F.col("wx") * 1e6).cast("long"))
                  .cast("double") / F.count(F.lit(1)) / 1e6)
                 .alias("winsorized_mean"))
            .orderBy("p_type"))


QUERIES["winsorized_prices_tpr"] = (winsorized_prices_tpr, WINSOR_SQL)
