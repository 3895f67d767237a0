"""In-engine ML batch: full-batch logistic-regression gradient descent
and a Naive Bayes language classifier — the two classic "train a model
with SQL-shaped passes" operators (complements the assignment-only
embedding_kmeans_assign and the heuristic text_lang_id).

Both follow the bounded-iteration / quantized-generation discipline
(tokenizer_bpe_train, events_markov_stationary): every cross-row float
contribution is floored to micro/nano ints BEFORE summation and every
learned parameter lives in integer units between rounds, so Spark and
the unrolled DuckDB oracle agree bit-for-bit at each generation.

Scale shapes: logistic GD is one agg per iteration over the feature
table (the distributed full-batch GD everyone runs before switching to
minibatch); the weight vector crossing the driver is 3 integers per
round.  Naive Bayes is two vocabulary-sized count tables and one
broadcast-join scoring pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import events_t, t

_GD_ITERS = 10
_LR_NANO = 500_000_000  # learning rate 0.5 in nano units


def _features(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user features (micro-int) and label: does the user's mean
    event value exceed the global mean?"""
    ev = events_t(spark, sf)
    # r10 (guide §5): per_user feeds both the global-mean aggregate and
    # the feature projection — pin the narrow per-user rollup so
    # events scan once.
    per_user = pin(ev.groupBy("user_id")
                   .agg(F.count(F.lit(1)).alias("n_ev"),
                        F.sum(F.when(F.col("event_type") == "view", 1)
                              .otherwise(0)).alias("n_view"),
                        F.sum(F.round(F.col("value") * 100).cast("long"))
                        .alias("val_cents")))
    g = per_user.agg(F.sum("val_cents").alias("tv"),
                     F.sum("n_ev").alias("tn"))
    return (per_user.crossJoin(F.broadcast(g))
            .select(
        "user_id",
        F.lit(1000000).alias("x0"),
        F.floor(F.col("n_view") * 1000000 / F.col("n_ev"))
        .cast("long").alias("x1"),
        F.floor(F.least(F.col("n_ev").cast("double") / 1000.0,
                        F.lit(1.0)) * 1000000).cast("long").alias("x2"),
        # cents × global event count passes int64 at extreme scale —
        # widen one operand before the multiply (both engines do).
        F.when(F.col("val_cents").cast("decimal(19,0)") * F.col("tn")
               > F.col("tv").cast("decimal(19,0)") * F.col("n_ev"), 1)
        .otherwise(0).alias("y")))


def ml_logistic_gd(spark: SparkSession, sf: str) -> DataFrame:
    """10 rounds of full-batch logistic GD predicting 'high-value user'
    from activity features.  Per round: one aggregation computes the
    gradient (per-user terms micro-floored, integer-summed), three
    nano-int weights cross the driver, and the next round embeds them
    as literals — at 100 TB this is one map-side-combined agg per
    round, the canonical distributed GD.  Output: the learned weights
    and training accuracy."""
    import math

    # every round's gradient and the accuracy read the features
    feats = pin(_features(spark, sf))
    n = feats.count()
    w = [0, 0, 0]  # nano units
    for _ in range(_GD_ITERS):
        z = sum((F.col(f"x{j}").cast("double") / 1e6) * (w[j] / 1e9)
                for j in range(3))
        sig = 1.0 / (1.0 + F.exp(-z))
        grads = feats.agg(*[
            F.sum(F.floor((sig - F.col("y"))
                          * (F.col(f"x{j}").cast("double") / 1e6)
                          * 1000000).cast("long")).alias(f"g{j}")
            for j in range(3)])
        row = grads.collect()[0]
        for j in range(3):
            # cast-then-divide like the SQL (double(p)/double(q)), not
            # Python's exact-rational int division — keeps both engines
            # on the identical IEEE path
            w[j] = w[j] - math.floor(
                float(_LR_NANO * row[f"g{j}"]) / float(1000000 * n))
    z = sum((F.col(f"x{j}").cast("double") / 1e6) * (w[j] / 1e9)
            for j in range(3))
    acc = feats.agg(
        F.sum(F.when((z > 0) == (F.col("y") == 1), 1)
              .otherwise(0)).alias("n_right"),
        F.count(F.lit(1)).alias("n"))
    return acc.select(
        F.lit(w[0]).alias("w0_nano"), F.lit(w[1]).alias("w1_nano"),
        F.lit(w[2]).alias("w2_nano"),
        F.floor(F.col("n_right") * 1000000 / F.col("n")).cast("long")
        .alias("train_acc_micro"))


_FEATS_SQL = """
per_user AS MATERIALIZED (
  SELECT user_id, count(*) AS n_ev,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS val_cents
  FROM events GROUP BY user_id
),
g AS MATERIALIZED (
  SELECT CAST(sum(val_cents) AS BIGINT) AS tv,
         CAST(sum(n_ev) AS BIGINT) AS tn
  FROM per_user
),
feats AS MATERIALIZED (
  SELECT user_id, CAST(1000000 AS BIGINT) AS x0,
         CAST(floor(n_view * 1000000 / n_ev) AS BIGINT) AS x1,
         CAST(floor(least(CAST(n_ev AS DOUBLE) / 1000.0, 1.0) * 1000000)
              AS BIGINT) AS x2,
         CASE WHEN CAST(val_cents AS HUGEINT) * g.tn
                   > CAST(g.tv AS HUGEINT) * n_ev THEN 1 ELSE 0 END AS y
  FROM per_user CROSS JOIN g
),
nrow AS MATERIALIZED (SELECT count(*) AS n FROM feats)
"""


def _gd_sql() -> str:
    chains = [_FEATS_SQL.strip(),
              "w0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w0, "
              "CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2)"]
    prev = "w0"
    zexpr = ("(CAST(f.x0 AS DOUBLE) / 1e6) * (w.w0 / 1e9)"
             " + (CAST(f.x1 AS DOUBLE) / 1e6) * (w.w1 / 1e9)"
             " + (CAST(f.x2 AS DOUBLE) / 1e6) * (w.w2 / 1e9)")
    for i in range(1, _GD_ITERS + 1):
        cur = f"w{i}"
        gsel = ", ".join(
            f"CAST(sum(CAST(floor((1.0 / (1.0 + exp(-({zexpr}))) - f.y)"
            f" * (CAST(f.x{j} AS DOUBLE) / 1e6) * 1000000) AS BIGINT))"
            f" AS BIGINT) AS g{j}" for j in range(3))
        chains.append(
            f"g{i} AS MATERIALIZED (SELECT {gsel} "
            f"FROM feats f CROSS JOIN {prev} w)")
        upd = ", ".join(
            f"w.w{j} - CAST(floor(CAST({_LR_NANO} * g.g{j} AS DOUBLE)"
            f" / CAST(1000000 * n.n AS DOUBLE)) AS BIGINT) AS w{j}"
            for j in range(3))
        chains.append(
            f"{cur} AS MATERIALIZED (SELECT {upd} "
            f"FROM {prev} w CROSS JOIN g{i} g CROSS JOIN nrow n)")
        prev = cur
    zfin = zexpr
    return (
        "WITH " + ",\n".join(chains) + f"""
SELECT w.w0 AS w0_nano, w.w1 AS w1_nano, w.w2 AS w2_nano,
       CAST(floor(sum(CASE WHEN (({zfin}) > 0) = (f.y = 1)
                           THEN 1 ELSE 0 END) * 1000000 / count(*))
            AS BIGINT) AS train_acc_micro
FROM feats f CROSS JOIN {prev} w
GROUP BY w.w0, w.w1, w.w2
""")


QUERIES = {
    "ml_logistic_gd": (ml_logistic_gd, _gd_sql()),
}


def ml_naive_bayes_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier: train on even
    doc_ids, classify odd ones, output the confusion matrix.  Scores
    are Σ_tok tf·⌊10⁶·ln((n_lt+1)/(n_l+V))⌋ + ⌊10⁶·ln prior⌋ — all
    integer sums of floored terms, argmax ties break on lang asc.

    Scale: the model is two vocabulary-sized tables broadcast onto the
    test-token stream; scoring shuffles (doc × lang) rows, langs
    bounded."""
    docs = t(spark, sf, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.explode(F.split(F.trim(F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
            " +", " ")), " ")).alias("tok"))
    train = toks.filter(F.col("doc_id") % 2 == 0)
    test = toks.filter(F.col("doc_id") % 2 == 1)
    lt = train.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n_lt"))
    lsum = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    vocab = train.select("tok").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("v"))
    priors = (docs.filter(F.col("doc_id") % 2 == 0)
              .groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")))
    ptot = priors.agg(F.sum("n_docs").alias("t"))
    # test tf per (doc, tok) then cross langs via the model join;
    # the left join against lt yields the +1 smoothing for unseen toks
    tf = (test.groupBy("doc_id", F.col("lang").alias("true_lang"), "tok")
          .agg(F.count(F.lit(1)).alias("tf")))
    langs = lsum.select("lang", "n_l").crossJoin(F.broadcast(v))
    scored = (tf.crossJoin(F.broadcast(langs))
              .join(F.broadcast(lt), ["lang", "tok"], "left")
              .select("doc_id", "true_lang", "lang", "tf",
                      F.floor(F.log(
                          (F.coalesce(F.col("n_lt"), F.lit(0)) + 1)
                          .cast("double")
                          / (F.col("n_l") + F.col("v")).cast("double"))
                          * 1000000).cast("long").alias("lp")))
    doc_lang = (scored.groupBy("doc_id", "true_lang", "lang")
                .agg(F.sum(F.col("tf") * F.col("lp")).alias("s")))
    pr = (priors.crossJoin(F.broadcast(ptot))
          .select("lang", F.floor(F.log(
              F.col("n_docs").cast("double") / F.col("t").cast("double"))
              * 1000000).cast("long").alias("lprior")))
    total = (doc_lang.join(F.broadcast(pr), "lang")
             .select("doc_id", "true_lang", "lang",
                     (F.col("s") + F.col("lprior")).alias("score")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "lang")
    pred = (total.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("doc_id", "true_lang",
                    F.col("lang").alias("pred_lang")))
    return (pred.groupBy("true_lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("true_lang", "pred_lang"))


NB_SQL = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')), ' ')) AS tok
  FROM documents
),
train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
test AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
lt AS (SELECT lang, tok, count(*) AS n_lt FROM train GROUP BY 1, 2),
lsum AS (SELECT lang, count(*) AS n_l FROM train GROUP BY lang),
v AS (SELECT count(DISTINCT tok) AS v FROM train),
priors AS (
  SELECT lang, count(*) AS n_docs FROM documents
  WHERE doc_id % 2 = 0 GROUP BY lang
),
ptot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM priors),
tf AS (
  SELECT doc_id, lang AS true_lang, tok, count(*) AS tf
  FROM test GROUP BY 1, 2, 3
),
scored AS (
  SELECT tf.doc_id, tf.true_lang, ls.lang, tf.tf,
         CAST(floor(ln(CAST(COALESCE(lt.n_lt, 0) + 1 AS DOUBLE)
                       / CAST(ls.n_l + v.v AS DOUBLE)) * 1000000)
              AS BIGINT) AS lp
  FROM tf CROSS JOIN lsum ls CROSS JOIN v
  LEFT JOIN lt ON lt.lang = ls.lang AND lt.tok = tf.tok
),
doc_lang AS (
  SELECT doc_id, true_lang, lang,
         CAST(sum(tf * lp) AS BIGINT) AS s
  FROM scored GROUP BY 1, 2, 3
),
pr AS (
  SELECT p.lang,
         CAST(floor(ln(CAST(p.n_docs AS DOUBLE) / CAST(t.t AS DOUBLE))
                    * 1000000) AS BIGINT) AS lprior
  FROM priors p CROSS JOIN ptot t
),
total AS (
  SELECT d.doc_id, d.true_lang, d.lang, d.s + pr.lprior AS score
  FROM doc_lang d JOIN pr ON pr.lang = d.lang
),
pred AS (
  SELECT doc_id, true_lang, lang AS pred_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, lang) AS r
    FROM total
  ) WHERE r = 1
)
SELECT true_lang, pred_lang, count(*) AS n_docs
FROM pred
GROUP BY 1, 2
ORDER BY true_lang, pred_lang
"""


QUERIES["ml_naive_bayes_confusion"] = (ml_naive_bayes_confusion, NB_SQL)


_KM_K = 4
_KM_ITERS = 3
_KM_DIM = 64


def ml_kmeans_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """In-engine k-means: 3 Lloyd rounds over micro-quantized
    embeddings, K=4, centroids seeded from vec_id 0..3 (deterministic).

    The quantized-generation discipline of ml_logistic_gd /
    embedding_pca_power_iteration: coordinates are micro ints, every
    distance is an EXACT int64 (|x−c| ≤ 2·10⁷ µ ⇒ Σ₆₄ (x−c)² ≤
    2.6·10¹⁶), centroid updates are floor(Σx/n) integer division —
    so each generation is bit-identical to the unrolled DuckDB oracle
    regardless of row order, and argmin ties break to the lowest k in
    both engines.

    Scale shape (100 TB): per round one NARROW map pass computes the
    K distances per row against the K×64 centroid LITERALS (the model
    broadcasts to executors — rows never visit the driver) and one
    posexplode aggregation recomputes centroids with map-side partials
    (shuffle carries K×64 rows per task); driver traffic is K×64
    integers per round — the canonical distributed Lloyd.  Output:
    (k, dim, c_micro, n_members, inertia_k) — K×64 rows."""
    # the seeds and every round's passes read it
    xq = pin(t(spark, sf, "embeddings")
             .select("vec_id",
                     F.transform(F.col("embedding"),
                                 lambda x: F.floor(x.cast("double") * 1000000)
                                 .cast("long")).alias("xq")))
    seeds = (xq.filter(F.col("vec_id") < _KM_K)
             .select("vec_id", "xq").collect())
    cent = {int(r.vec_id): [int(v) for v in r.xq] for r in seeds}
    assert len(cent) == _KM_K

    # r10 (guide §4.2/§2.3): the per-row K×64 distance argmin was an
    # interpreted zip_with/aggregate HOF chain, and every round's
    # centroid update posexploded n×64 (k, j, x) rows into the shuffle.
    # Each pass is now ONE numpy int64 GEMM per Arrow batch that emits
    # only the K×64 per-batch partial sums (or K stat partials) — the
    # same exact integers: d = x·x − 2x·c + c·c term-by-term in int64
    # (|x·c| ≤ 64·1e14 ≪ 2⁶³, headroom per the docstring), np.argmin
    # ties break to the first (lowest-k) position exactly like the
    # array_min struct ordering, and floor(s/n) stays the identical
    # Spark long/long→double division over identical partial sums.
    import numpy as np
    import pandas as pd

    def _pass(cent_now: dict, what: str):
        ks = sorted(cent_now)
        C = np.array([cent_now[k] for k in ks], dtype="int64")
        kv = np.array(ks, dtype="int64")
        c2 = (C * C).sum(axis=1)

        def kernel(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["xq"].to_numpy()).astype("int64")
                d = ((X * X).sum(axis=1)[:, None]
                     - 2 * (X @ C.T) + c2[None, :])
                a = np.argmin(d, axis=1)
                if what == "cent":
                    out_k, out_j, out_s, out_n = [], [], [], []
                    for pos in range(len(ks)):
                        m = a == pos
                        n = int(m.sum())
                        if not n:
                            continue
                        s = X[m].sum(axis=0)
                        out_k.extend([kv[pos]] * _KM_DIM)
                        out_j.extend(range(_KM_DIM))
                        out_s.extend(s.tolist())
                        out_n.extend([n] * _KM_DIM)
                    yield pd.DataFrame({
                        "k": np.array(out_k, dtype="int64"),
                        "j": np.array(out_j, dtype="int64"),
                        "s": np.array(out_s, dtype="int64"),
                        "n": np.array(out_n, dtype="int64")})
                else:
                    dmin = d[np.arange(len(a)), a]
                    out = [(int(kv[pos]), int((a == pos).sum()),
                            int(dmin[a == pos].sum()))
                           for pos in range(len(ks))
                           if (a == pos).any()]
                    yield pd.DataFrame(out, columns=["k", "n", "d"])

        schema = ("k long, j long, s long, n long" if what == "cent"
                  else "k long, n long, d long")
        return xq.select("xq").mapInPandas(kernel, schema)

    cent_last = cent
    for _ in range(_KM_ITERS):
        cent_last = cent
        rows = (_pass(cent, "cent")
                .groupBy("k", "j")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .select("k", "j",
                        F.floor(F.col("s") / F.col("n")).cast("long")
                        .alias("c"))
                .collect())
        cent = {}
        for r in rows:
            cent.setdefault(int(r.k), [0] * _KM_DIM)[int(r.j)] = int(r.c)
    # stats read the LAST round's assignment (centroids entering that
    # round), exactly like the former lazy `assigned` reference
    stats = (_pass(cent_last, "stat")
             .groupBy("k")
             .agg(F.sum("n").alias("n_members"),
                  F.sum("d").alias("inertia_k")))
    cent_rows = [(k, j, cent[k][j]) for k in sorted(cent)
                 for j in range(_KM_DIM)]
    cdf = spark.createDataFrame(cent_rows, "k bigint, dim bigint, "
                                           "c_micro bigint")
    return (cdf.join(F.broadcast(stats), "k")
            .select("k", "dim", "c_micro", "n_members", "inertia_k")
            .orderBy("k", "dim"))


def _km_iter_sql(i: int, prev_c: str) -> str:
    # NOTE: the new centroids c{i} are computed from the PREVIOUS
    # round's assignment a{i}; the final reported assignment stats come
    # from a FRESH assignment against c{_KM_ITERS} — mirroring the
    # Spark loop where the last _assign() happens inside round N and
    # stats read that assignment.
    return f"""
a{i} AS MATERIALIZED (
  SELECT vec_id, k, d FROM (
    SELECT x.vec_id, {prev_c}.k,
           CAST(sum((x.x - {prev_c}.c) * (x.x - {prev_c}.c)) AS BIGINT)
             AS d,
           ROW_NUMBER() OVER (
             PARTITION BY x.vec_id
             ORDER BY CAST(sum((x.x - {prev_c}.c) * (x.x - {prev_c}.c))
                           AS BIGINT) ASC, {prev_c}.k ASC) AS rn
    FROM x JOIN {prev_c} ON x.j = {prev_c}.j
    GROUP BY x.vec_id, {prev_c}.k)
  WHERE rn = 1
),
c{i} AS MATERIALIZED (
  SELECT a{i}.k, x.j,
         CAST(floor(CAST(sum(x.x) AS DOUBLE) / count(*)) AS BIGINT) AS c
  FROM x JOIN a{i} USING (vec_id)
  GROUP BY a{i}.k, x.j
)"""


KMEANS_SQL = f"""
WITH x AS MATERIALIZED (
  SELECT vec_id, jj.range AS j,
         CAST(floor(CAST(embedding[CAST(jj.range AS INTEGER) + 1]
                         AS DOUBLE) * 1000000) AS BIGINT) AS x
  FROM embeddings CROSS JOIN range({_KM_DIM}) jj
),
c0 AS (SELECT vec_id AS k, j, x AS c FROM x WHERE vec_id < {_KM_K}),
{",".join(_km_iter_sql(i + 1, f"c{i}") for i in range(_KM_ITERS))},
stats AS (
  SELECT k, count(*) AS n_members, CAST(sum(d) AS BIGINT) AS inertia_k
  FROM a{_KM_ITERS} GROUP BY k
)
SELECT c{_KM_ITERS}.k, c{_KM_ITERS}.j AS dim, c{_KM_ITERS}.c AS c_micro,
       stats.n_members, stats.inertia_k
FROM c{_KM_ITERS} JOIN stats USING (k)
ORDER BY k, dim
"""


QUERIES["ml_kmeans_lloyd"] = (ml_kmeans_lloyd, KMEANS_SQL)


def ml_decision_stump(spark: SparkSession, sf: str) -> DataFrame:
    """One exact decision-stump fit (the unit of boosting / tree
    ensembles): the price-cents threshold that best separates PROMO
    from non-PROMO lineitems, found by scanning every candidate split
    on the distinct-value grid with exact integer class counts.

    Plan: one map-side-combined aggregation to per-value (pos, neg)
    counts, one cumulative window over the VALUE GRID (price cents —
    the bounded domain registered in the plan guard; the
    stats_ks_two_sample shape), then an integer argmin of
    misclassification count over splits with ties to the lowest
    threshold.  Everything is exact BIGINTs — no impurity floats to
    disagree across engines; at 100 TB the grid aggregation is the
    only pass over the data.

    Output: the chosen threshold, its misclassification count, class
    totals, and training accuracy in exact micro units."""
    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("pos"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    grid = (li.join(p, li.l_partkey == p.p_partkey)
            .select(cents.alias("c"), "pos")
            .groupBy("c")
            .agg(F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
                 F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("nn")))
    w = (Window.orderBy("c")
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = grid.agg(F.sum("np").alias("tp"), F.sum("nn").alias("tn"))
    cum = (grid.crossJoin(F.broadcast(tot))
           .select("c", "tp", "tn",
                   F.sum("np").over(w).alias("cp"),
                   F.sum("nn").over(w).alias("cn")))
    # split at value <= c: left predicts its majority, right likewise;
    # misclassification = min over the two orientations
    errs_a = F.col("cp") + (F.col("tn") - F.col("cn"))  # left=neg,right=pos
    errs_b = F.col("cn") + (F.col("tp") - F.col("cp"))  # left=pos,right=neg
    best = (cum.select(
        "c", "tp", "tn",
        F.least(errs_a, errs_b).alias("err"),
        (errs_b <= errs_a).alias("left_is_pos"))
        .withColumn("rn", F.row_number().over(
            Window.orderBy("err", "c")))
        .filter(F.col("rn") == 1))
    return best.select(
        F.col("c").alias("threshold_cents"),
        F.col("err").alias("n_misclassified"),
        F.col("tp").alias("n_pos"), F.col("tn").alias("n_neg"),
        "left_is_pos",
        F.floor((F.col("tp") + F.col("tn") - F.col("err"))
                * F.lit(1000000) / (F.col("tp") + F.col("tn")))
        .cast("long").alias("train_acc_micro"))


STUMP_SQL = """
WITH grid AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN 1 ELSE 0 END)
              AS BIGINT) AS np,
         CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN 0 ELSE 1 END)
              AS BIGINT) AS nn
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
),
tot AS (SELECT CAST(sum(np) AS BIGINT) AS tp,
               CAST(sum(nn) AS BIGINT) AS tn FROM grid),
cum AS (
  SELECT c, tp, tn,
         CAST(sum(np) OVER (ORDER BY c
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
         CAST(sum(nn) OVER (ORDER BY c
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
  FROM grid CROSS JOIN tot
),
scored AS (
  SELECT c, tp, tn,
         least(cp + tn - cn, cn + tp - cp) AS err,
         (cn + tp - cp) <= (cp + tn - cn) AS left_is_pos
  FROM cum
),
best AS (
  SELECT * FROM (
    SELECT scored.*, ROW_NUMBER() OVER (ORDER BY err, c) AS rn
    FROM scored)
  WHERE rn = 1
)
SELECT c AS threshold_cents, err AS n_misclassified,
       tp AS n_pos, tn AS n_neg, left_is_pos,
       CAST(floor((tp + tn - err) * 1000000.0 / (tp + tn)) AS BIGINT)
         AS train_acc_micro
FROM best
"""


QUERIES["ml_decision_stump"] = (ml_decision_stump, STUMP_SQL)


# Shared double-expression template for the OLS closed form: the SAME
# string feeds Spark's selectExpr and the DuckDB oracle, so both
# engines build structurally identical IEEE-double expression trees
# over the exact BIGINT sufficient statistics (the
# one-double-expression discipline — identical tree => identical
# bits => identical floor).
_OLS_A11 = ("(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))")
_OLS_A12 = ("(CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)"
            " - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))")
_OLS_A22 = ("(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)"
            " - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))")
_OLS_B1 = ("(CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE)"
           " - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE))")
_OLS_B2 = ("(CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE)"
           " - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE))")
_OLS_T = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")
_OLS_DET = f"({_OLS_A11} * {_OLS_A22} - {_OLS_A12} * {_OLS_A12})"
_OLS_B1HAT = f"(({_OLS_B1} * {_OLS_A22} - {_OLS_B2} * {_OLS_A12}) / {_OLS_DET})"
_OLS_B2HAT = f"(({_OLS_B2} * {_OLS_A11} - {_OLS_B1} * {_OLS_A12}) / {_OLS_DET})"
_OLS_B0HAT = (f"((CAST(sy AS DOUBLE) - {_OLS_B1HAT} * CAST(s1 AS DOUBLE)"
              f" - {_OLS_B2HAT} * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE))")
_OLS_R2 = f"(({_OLS_B1HAT} * {_OLS_B1} + {_OLS_B2HAT} * {_OLS_B2}) / {_OLS_T})"
_OLS_OUT_LIST = [
    f"CAST(floor({_OLS_B0HAT} * 1000000) AS BIGINT) AS b0_micro",
    f"CAST(floor({_OLS_B1HAT} * 1000000) AS BIGINT) AS b1_micro",
    f"CAST(floor({_OLS_B2HAT} * 1000000) AS BIGINT) AS b2_micro",
    f"CAST(floor({_OLS_R2} * 1000000) AS BIGINT) AS r2_micro",
]
_OLS_OUT = ", ".join(_OLS_OUT_LIST)


def ml_linreg_normal(spark: SparkSession, sf: str) -> DataFrame:
    """In-engine multiple linear regression by the normal equations:
    price_dollars ~ quantity + discount_bps over lineitem, solved in
    closed form (2x2 Cramer on the centered cross-products).  The map
    side reduces the corpus to NINE exact BIGINT sufficient statistics
    (one map-side-combined aggregate — the only shuffle is 32 partial
    rows); the coefficient solve is a single driver-free double
    expression shared verbatim with the oracle.  The in-engine OLS
    twin of the scatter-matrix GEMM route (plans/pca.py): for p
    features the same pattern ships p(p+3)/2 sums to a driver solve.

    Magnitudes: dollar-unit y keeps n*syy within BIGINT up to ~1e9
    rows; past that, widen the sums to DECIMAL(38,0) at the agg."""
    li = t(spark, sf, "lineitem").select(
        F.floor(F.col("l_quantity")).cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
        .alias("x2"),
        F.floor(F.col("l_extendedprice") + F.lit(0.5)).cast("long")
        .alias("y"))
    sums = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    return sums.selectExpr("n", *_OLS_OUT_LIST)


LINREG_SQL = f"""
WITH base AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS x1,
         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS x2,
         CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
  FROM lineitem
),
sums AS (
  SELECT count(*) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM base
)
SELECT n, {_OLS_OUT}
FROM sums
"""


QUERIES["ml_linreg_normal"] = (ml_linreg_normal, LINREG_SQL)


def _stump_best(grid: DataFrame, val: str, s: str, n: str) -> DataFrame:
    """Best SSE-reducing split over a cumulative grid: the row whose
    prefix maximizes S_L^2/n_L + S_R^2/n_R (exact sums, one double
    score), ties to the smallest threshold.  Input columns: val
    (threshold candidate), s/n (prefix sum + count), s_all/n_all."""
    s_l, n_l = F.col(s), F.col(n)
    s_r = F.col("s_all") - s_l
    n_r = F.col("n_all") - n_l
    d = "double"
    # the score product is formed in DOUBLE (s^2*n overflows BIGINT at
    # micro-unit sums); both engines build the identical tree
    score = ((s_l.cast(d) * s_l.cast(d) * n_r.cast(d)
              + s_r.cast(d) * s_r.cast(d) * n_l.cast(d))
             / (n_l * n_r).cast(d))
    return (grid.filter(n_l < F.col("n_all"))
            .select(F.col(val).alias("thr"), s_l.alias("s_l"),
                    n_l.alias("n_l"), s_r.alias("s_r"), n_r.alias("n_r"),
                    F.floor(score).cast("long").alias("score"))
            .orderBy(F.desc("score"), "thr").limit(1))


def ml_boosted_stumps(spark: SparkSession, sf: str) -> DataFrame:
    """Two rounds of gradient boosting with decision-stump base
    learners (squared loss, shrinkage 1): stump 1 regresses the label
    (micro units) on embedding dim 0; stump 2 fits the INTEGER
    residuals on dim 1.  Each stump is the exact SSE-minimizing
    threshold over the quantized feature grid — the changepoint
    machinery (S_L^2/n_L + S_R^2/n_R maximized over exact prefix
    sums) pointed at a feature column instead of a calendar.  All
    residuals stay exact BIGINT micros, so both engines fit the SAME
    ensemble; the output is the fitted model plus its training-SSE
    ladder (micro^2 units, exact).

    Scale: two grid aggregations + two bounded-grid windows
    (allowlisted score grids) + 1-row broadcasts; the raw scan is
    reduced map-side both rounds.  Sums fit BIGINT to ~1e6 rows at
    micro units (residual^2 = 1e12-scale); widen the SSE accumulators
    to DECIMAL(38,0) past that."""
    emb = t(spark, sf, "embeddings")
    # read by tot, g1 and the residual passes
    base = pin(emb.select(
        (F.col("label").cast("long") * 1000000).alias("y"),
        F.floor(F.element_at("embedding", 1).cast("double") * 1000000)
        .cast("long").alias("f1"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1000000)
        .cast("long").alias("f2")))
    tot = base.agg(F.sum("y").alias("s_all"),
                   F.count(F.lit(1)).alias("n_all"),
                   F.sum(F.col("y") * F.col("y")).alias("ss_all"))

    from pyspark.sql import Window
    w1 = Window.orderBy("f1").rowsBetween(Window.unboundedPreceding, 0)
    g1 = (base.groupBy("f1").agg(F.sum("y").alias("gs"),
                                 F.count(F.lit(1)).alias("gn"))
          .select("f1", F.sum("gs").over(w1).alias("s"),
                  F.sum("gn").over(w1).alias("n"))
          .crossJoin(F.broadcast(tot)))
    b1 = _stump_best(g1, "f1", "s", "n").select(
        F.col("thr").alias("thr1"),
        F.floor(F.col("s_l") / F.col("n_l")).cast("long").alias("m_l1"),
        F.floor(F.col("s_r") / F.col("n_r")).cast("long").alias("m_r1"))

    resid = (base.crossJoin(F.broadcast(b1))
             .select("f2",
                     (F.col("y") - F.when(F.col("f1") <= F.col("thr1"),
                                          F.col("m_l1"))
                      .otherwise(F.col("m_r1"))).alias("r"),
                     "thr1", "m_l1", "m_r1"))
    rtot = resid.agg(F.sum("r").alias("s_all"),
                     F.count(F.lit(1)).alias("n_all"),
                     F.sum(F.col("r") * F.col("r")).alias("ss1"))
    w2 = Window.orderBy("f2").rowsBetween(Window.unboundedPreceding, 0)
    g2 = (resid.groupBy("f2").agg(F.sum("r").alias("gs"),
                                  F.count(F.lit(1)).alias("gn"))
          .select("f2", F.sum("gs").over(w2).alias("s"),
                  F.sum("gn").over(w2).alias("n"))
          .crossJoin(F.broadcast(rtot)))
    b2 = _stump_best(g2, "f2", "s", "n").select(
        F.col("thr").alias("thr2"),
        F.floor(F.col("s_l") / F.col("n_l")).cast("long").alias("d_l2"),
        F.floor(F.col("s_r") / F.col("n_r")).cast("long").alias("d_r2"))

    # SSE after round 2: sum over rows of (r - d)^2, d from stump 2
    r2 = (resid.crossJoin(F.broadcast(b2))
          .select((F.col("r") - F.when(F.col("f2") <= F.col("thr2"),
                                       F.col("d_l2"))
                   .otherwise(F.col("d_r2"))).alias("r2"),
                  "thr1", "m_l1", "m_r1", "thr2", "d_l2", "d_r2"))
    return (r2.groupBy("thr1", "m_l1", "m_r1", "thr2", "d_l2", "d_r2")
            .agg(F.sum(F.col("r2") * F.col("r2")).alias("sse2"))
            .crossJoin(F.broadcast(
                tot.select("ss_all")))
            .crossJoin(F.broadcast(rtot.select("ss1")))
            .select("thr1", "m_l1", "m_r1", "thr2", "d_l2", "d_r2",
                    F.col("ss_all").alias("sse0"),
                    F.col("ss1").alias("sse1"), "sse2"))


BOOSTED_STUMPS_SQL = """
WITH base AS (
  SELECT CAST(label AS BIGINT) * 1000000 AS y,
         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
           AS f1,
         CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT)
           AS f2
  FROM embeddings
),
tot AS (
  SELECT CAST(sum(y) AS BIGINT) AS s_all, count(*) AS n_all,
         CAST(sum(y * y) AS BIGINT) AS ss_all
  FROM base
),
g1 AS (
  SELECT f1,
         CAST(sum(sum(y)) OVER (ORDER BY f1 ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS s,
         CAST(sum(count(*)) OVER (ORDER BY f1 ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS n
  FROM base GROUP BY f1
),
b1 AS (
  SELECT f1 AS thr1,
         CAST(floor(s / n) AS BIGINT) AS m_l1,
         CAST(floor((s_all - s) / (n_all - n)) AS BIGINT) AS m_r1
  FROM g1, tot WHERE n < n_all
  ORDER BY CAST(floor((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       * CAST(n_all - n AS DOUBLE)
                       + CAST(s_all - s AS DOUBLE)
                         * CAST(s_all - s AS DOUBLE)
                         * CAST(n AS DOUBLE))
                      / CAST(n * (n_all - n) AS DOUBLE)) AS BIGINT)
           DESC, f1
  LIMIT 1
),
resid AS (
  SELECT f2,
         y - (CASE WHEN f1 <= thr1 THEN m_l1 ELSE m_r1 END) AS r,
         thr1, m_l1, m_r1
  FROM base, b1
),
rtot AS (
  SELECT CAST(sum(r) AS BIGINT) AS s_all, count(*) AS n_all,
         CAST(sum(r * r) AS BIGINT) AS ss1
  FROM resid
),
g2 AS (
  SELECT f2,
         CAST(sum(sum(r)) OVER (ORDER BY f2 ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS s,
         CAST(sum(count(*)) OVER (ORDER BY f2 ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS n
  FROM resid GROUP BY f2
),
b2 AS (
  SELECT f2 AS thr2,
         CAST(floor(s / n) AS BIGINT) AS d_l2,
         CAST(floor((s_all - s) / (n_all - n)) AS BIGINT) AS d_r2
  FROM g2, rtot WHERE n < n_all
  ORDER BY CAST(floor((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       * CAST(n_all - n AS DOUBLE)
                       + CAST(s_all - s AS DOUBLE)
                         * CAST(s_all - s AS DOUBLE)
                         * CAST(n AS DOUBLE))
                      / CAST(n * (n_all - n) AS DOUBLE)) AS BIGINT)
           DESC, f2
  LIMIT 1
),
r2 AS (
  SELECT thr1, m_l1, m_r1, thr2, d_l2, d_r2,
         r - (CASE WHEN f2 <= thr2 THEN d_l2 ELSE d_r2 END) AS rr
  FROM resid, b2
)
SELECT thr1, m_l1, m_r1, thr2, d_l2, d_r2,
       (SELECT ss_all FROM tot) AS sse0,
       (SELECT ss1 FROM rtot) AS sse1,
       CAST(sum(rr * rr) AS BIGINT) AS sse2
FROM r2
GROUP BY thr1, m_l1, m_r1, thr2, d_l2, d_r2
"""


QUERIES["ml_boosted_stumps"] = (ml_boosted_stumps, BOOSTED_STUMPS_SQL)


_LC_DENOMS = [8, 4, 2, 1]
_LC_U_MAX = 1 << 60  # 15 hex chars of md5 as uniform in [0, 2^60)


def ml_learning_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-efficiency curve of the exact decision stump: train the
    "PROMO iff price-cents <= threshold" stump on nested deterministic
    1/8, 1/4, 1/2 and full hash-subsets of lineitem, evaluate every
    fitted threshold on the FULL population, and report train/full
    error — the does-more-data-help readout a labeling pipeline checks
    before paying for more annotations.  Subsets nest (u < 2^60/d on
    the md5-prefix uniform), so the curve is monotone-by-construction
    in expectation.

    Engine shape: ONE (cents, 4x(pos,neg)) grid aggregate carries all
    four subsets' class counts, ONE cumulative window over the value
    grid (bounded domain, ml_decision_stump's shape) serves all four
    argmins plus the full-population evaluation of each winner
    (stacked rows, per-denom row_number argmin with ties to the lowest
    threshold; the no-split option is a literal c = -1 row).  Exact
    BIGINTs throughout — no impurity floats."""
    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("pos"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    key = F.concat_ws("-", F.col("l_orderkey").cast("string"),
                      F.col("l_linenumber").cast("string"))
    u = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    base = (li.join(p, li.l_partkey == p.p_partkey)
            .select(cents.alias("c"), "pos", u.alias("u")))
    aggs = []
    for d in _LC_DENOMS:
        thr_u = _LC_U_MAX // d
        m = F.col("u") < thr_u
        aggs.append(F.sum(F.when(m & F.col("pos"), 1).otherwise(0))
                    .alias(f"np_{d}"))
        aggs.append(F.sum(F.when(m & ~F.col("pos"), 1).otherwise(0))
                    .alias(f"nn_{d}"))
    grid = base.groupBy("c").agg(*aggs)
    zero = spark.range(1).select(
        F.lit(-1).cast("long").alias("c"),
        *[F.lit(0).cast("long").alias(f"{x}_{d}")
          for d in _LC_DENOMS for x in ("np", "nn")])
    grid = grid.unionByName(zero)
    # r10 (guide §1.2): the population totals come from an unbounded
    # frame on the SAME single-partition ordering as the cumulative
    # sums — one evaluation of the lineitem join+grid instead of two
    # (cum + tot) and no crossJoin.  Identical integers.
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("c").rowsBetween(Window.unboundedPreceding,
                                            Window.unboundedFollowing)
    j = grid.select(
        "c", *[F.sum(f"{x}_{d}").over(w).alias(f"cum_{x}_{d}")
               for d in _LC_DENOMS for x in ("np", "nn")],
        *[F.sum(f"{x}_{d}").over(w_all).alias(f"t{x}_{d}")
          for d in _LC_DENOMS for x in ("np", "nn")])
    stacked = j.selectExpr(
        "c",
        "stack(4, " + ", ".join(
            f"{d}, tnp_{d} + tnn_{d}, "
            f"(tnp_{d} - cum_np_{d}) + cum_nn_{d}, "
            f"(tnp_1 - cum_np_1) + cum_nn_1, tnp_1 + tnn_1"
            for d in _LC_DENOMS)
        + ") AS (denom, n_train, train_err, full_err, n_full)")
    w_d = Window.partitionBy("denom").orderBy("train_err", "c")
    best = (stacked.withColumn("rn", F.row_number().over(w_d))
            .filter(F.col("rn") == 1))
    return (best.select(
        "denom", "n_train",
        F.col("c").alias("threshold_cents"),
        "train_err", "full_err",
        F.expr("(n_full - full_err) * 1000000 div n_full")
        .alias("full_acc_micro"))
        .orderBy(F.desc("denom")))


def _learning_curve_sql() -> str:
    cols = []
    for d in _LC_DENOMS:
        thr_u = _LC_U_MAX // d
        m = (f"CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) "
             f"|| '-' || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)"
             f" < {thr_u}")
        cols.append(f"sum(CASE WHEN {m} AND pos THEN 1 ELSE 0 END)"
                    f" AS np_{d}")
        cols.append(f"sum(CASE WHEN {m} AND NOT pos THEN 1 ELSE 0 END)"
                    f" AS nn_{d}")
    zero_cols = ", ".join(f"CAST(0 AS BIGINT) AS {x}_{d}"
                          for d in _LC_DENOMS for x in ("np", "nn"))
    cum_cols = ", ".join(
        f"CAST(sum({x}_{d}) OVER (ORDER BY c) AS BIGINT) AS cum_{x}_{d}"
        for d in _LC_DENOMS for x in ("np", "nn"))
    tot_cols = ", ".join(
        f"CAST(sum({x}_{d}) AS BIGINT) AS t{x}_{d}"
        for d in _LC_DENOMS for x in ("np", "nn"))
    stack_rows = " UNION ALL ".join(f"""
      SELECT c, {d} AS denom, tnp_{d} + tnn_{d} AS n_train,
             (tnp_{d} - cum_np_{d}) + cum_nn_{d} AS train_err,
             (tnp_1 - cum_np_1) + cum_nn_1 AS full_err,
             tnp_1 + tnn_1 AS n_full
      FROM j""" for d in _LC_DENOMS)
    return f"""
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         l_orderkey, l_linenumber,
         starts_with(p.p_type, 'PROMO') AS pos
  FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
),
grid0 AS (
  SELECT c, {", ".join(cols)} FROM base GROUP BY c
),
grid AS (
  SELECT * FROM grid0
  UNION ALL SELECT CAST(-1 AS BIGINT) AS c, {zero_cols}
),
cum AS (SELECT c, {cum_cols} FROM grid),
tot AS (SELECT {tot_cols} FROM grid),
j AS (SELECT * FROM cum CROSS JOIN tot),
stacked AS ({stack_rows}),
best AS (
  SELECT *, row_number() OVER (PARTITION BY denom
                               ORDER BY train_err, c) AS rn
  FROM stacked
)
SELECT denom, n_train, c AS threshold_cents, train_err, full_err,
       CAST((n_full - full_err) * 1000000 // n_full AS BIGINT)
         AS full_acc_micro
FROM best WHERE rn = 1
ORDER BY denom DESC
"""


QUERIES["ml_learning_curve"] = (ml_learning_curve, _learning_curve_sql())
