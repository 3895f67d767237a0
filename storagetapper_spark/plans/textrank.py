"""Text-retrieval ranking batch: BM25 search and NPMI collocations —
the IR layer next to text_tfidf_search (BM25 is the standard Okapi
scorer with doc-length normalization; collocations are the bigram
keyphrase miner).

Determinism: all inputs are exact counts (tf, df, dl, bigram counts);
each per-(doc, term) BM25 contribution and each NPMI value is one IEEE
expression micro-floored BEFORE any cross-row sum, so aggregation
order cannot move the hash (SCALE.md discipline).

Scale: postings are (term, doc) — the query filter prunes to the query
terms FIRST, so only matching postings shuffle; doc lengths and df are
map-side-combined aggs; avgdl is a broadcast scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t

_QUERY_TERMS = ["spark", "merge", "window"]
_K1 = 1.2
_B = 0.75
_BM25_TOPK = 10

_TOKS_SQL = """
toks AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')), ' ')) AS tok
  FROM documents
)
"""


def _toks(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
            " +", " ")), " ")).alias("tok"))


def text_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 top-10 for the query {spark merge window}
    (k1=1.2, b=0.75, the Robertson-Sparck-Jones idf with +1 floor).
    Postings are pruned to the 3 query terms before anything shuffles;
    df/dl/avgdl are exact integers entering one closed-form double per
    (doc, term), micro-floored, then integer-summed per doc."""
    toks = _toks(spark, sf)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    nstats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("dl").alias("sum_dl"))
    q = toks.filter(F.col("tok").isin(_QUERY_TERMS))
    tf = q.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    j = (tf.join(F.broadcast(df), "tok")
         .join(dl, "doc_id")
         .crossJoin(F.broadcast(nstats)))
    nd = F.col("n_docs").cast("double")
    idf = F.log((nd - F.col("df").cast("double") + 0.5)
                / (F.col("df").cast("double") + 0.5) + 1.0)
    avgdl = F.col("sum_dl").cast("double") / nd
    tfd = F.col("tf").cast("double")
    denom = tfd + _K1 * (1.0 - _B + _B * F.col("dl").cast("double") / avgdl)
    contrib = idf * tfd * (_K1 + 1.0) / denom
    scored = j.select("doc_id",
                      F.floor(contrib * 1000000).cast("long").alias("c"),
                      F.lit(1).alias("one"))
    return (scored.groupBy("doc_id")
            .agg(F.sum("c").alias("bm25_micro"),
                 F.sum("one").alias("n_terms_matched"))
            .orderBy(F.desc("bm25_micro"), "doc_id")
            .limit(_BM25_TOPK))


_QT_SQL = ", ".join(f"'{w}'" for w in _QUERY_TERMS)

BM25_SQL = f"""
WITH {_TOKS_SQL},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nstats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
           FROM dl),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ({_QT_SQL}) GROUP BY 1, 2
),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln((CAST(n.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)
              + 1.0)
           * CAST(tf.tf AS DOUBLE) * ({_K1} + 1.0)
           / (CAST(tf.tf AS DOUBLE)
              + {_K1} * (1.0 - {_B} + {_B} * CAST(dl.dl AS DOUBLE)
                         / (CAST(n.sum_dl AS DOUBLE)
                            / CAST(n.n_docs AS DOUBLE))))
           * 1000000) AS BIGINT) AS c
  FROM tf JOIN df ON df.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN nstats n
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS bm25_micro,
       count(*) AS n_terms_matched
FROM scored
GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id
LIMIT {_BM25_TOPK}
"""


QUERIES = {
    "text_bm25_search": (text_bm25_search, BM25_SQL),
}


_MIN_PAIR = 10
_COLL_TOPK = 20


def text_collocations_npmi(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 bigram collocations by normalized PMI (the keyphrase
    miner): npmi = ln(p(xy)/(p(x)p(y))) / −ln p(xy) over ADJACENT word
    pairs, min pair count 10.  Unigram and bigram tables are
    vocabulary-sized after one map-side-combined count each; the join
    back for margins is an equi-join on the word."""
    toks = _toks(spark, sf)
    docs = t(spark, sf, "documents")
    w = F.split(F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
        " +", " ")), " ")
    big = (docs.select(F.explode(F.zip_with(
        w, F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
        .alias("p"))
        .filter(F.col("p.w2").isNotNull())
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    nxy = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    t1 = uni.agg(F.sum("n").alias("t1"))
    t2 = nxy.agg(F.sum("n_xy").alias("t2"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("n").alias("n_x"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("n").alias("n_y"))
    j = (nxy.filter(F.col("n_xy") >= _MIN_PAIR)
         .join(F.broadcast(u1), "w1").join(F.broadcast(u2), "w2")
         .crossJoin(F.broadcast(t1)).crossJoin(F.broadcast(t2)))
    pxy = F.col("n_xy").cast("double") / F.col("t2").cast("double")
    px = F.col("n_x").cast("double") / F.col("t1").cast("double")
    py = F.col("n_y").cast("double") / F.col("t1").cast("double")
    npmi = F.log(pxy / (px * py)) / -F.log(pxy)
    return (j.select("w1", "w2", "n_xy",
                     F.floor(npmi * 1000000).cast("long")
                     .alias("npmi_micro"))
            .orderBy(F.desc("npmi_micro"), "w1", "w2")
            .limit(_COLL_TOPK))


COLLOCATIONS_SQL = f"""
WITH {_TOKS_SQL},
norm AS (
  SELECT doc_id, string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')), ' ') AS w
  FROM documents
),
big AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM norm, unnest(range(1, len(w))) AS t(i)
),
nxy AS (SELECT w1, w2, count(*) AS n_xy FROM big GROUP BY 1, 2),
uni AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
t1 AS (SELECT CAST(sum(n) AS BIGINT) AS t1 FROM uni),
t2 AS (SELECT CAST(sum(n_xy) AS BIGINT) AS t2 FROM nxy)
SELECT j.w1, j.w2, CAST(j.n_xy AS BIGINT) AS n_xy,
       CAST(floor(
         ln((CAST(j.n_xy AS DOUBLE) / t2.t2)
            / ((CAST(ux.n AS DOUBLE) / t1.t1)
               * (CAST(uy.n AS DOUBLE) / t1.t1)))
         / -ln(CAST(j.n_xy AS DOUBLE) / t2.t2)
         * 1000000) AS BIGINT) AS npmi_micro
FROM nxy j
JOIN uni ux ON ux.tok = j.w1
JOIN uni uy ON uy.tok = j.w2
CROSS JOIN t1 CROSS JOIN t2
WHERE j.n_xy >= {_MIN_PAIR}
ORDER BY npmi_micro DESC, j.w1, j.w2
LIMIT {_COLL_TOPK}
"""


QUERIES["text_collocations_npmi"] = (text_collocations_npmi,
                                     COLLOCATIONS_SQL)


# ------------------------------- pseudo-relevance feedback (PRF) ----

_PRF_TOPK_TERMS = 8
_PRF_MIN_LEN = 3


def text_query_expansion_prf(spark: SparkSession, sf: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion: take the BM25 top-10
    for {spark merge window} as the pseudo-relevant set R, then rank
    candidate expansion terms by the Robertson offer weight
    r·log(((r+0.5)(N−df−R+r+0.5)) / ((df−r+0.5)(R−r+0.5))) — the
    classic RSJ relevance-weighting step of probabilistic IR.

    The R set is deterministic cross-engine because every BM25 doc
    score is an exact integer (per-term contributions micro-floored
    before summing, ties broken by doc_id); r and df are exact
    distinct-doc counts, and each term's weight is one IEEE expression
    micro-floored.  Scale: the shuffles are R-sized (candidate
    postings prune through a broadcast semi-join before the df
    distinct); the corpus cost is the tokenization scan, pinned so
    the four consumers (dl, tf, cand, df) share ONE pass — at 100 TB
    these are the postings/doclen INDEX tables, materialized once and
    reused across every search, never rebuilt per query."""
    toks = pin(_toks(spark, sf))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    nstats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("dl").alias("sum_dl"))
    q = toks.filter(F.col("tok").isin(_QUERY_TERMS))
    tf = q.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    j = (tf.join(F.broadcast(dfq), "tok")
         .join(dl, "doc_id")
         .crossJoin(F.broadcast(nstats)))
    nd = F.col("n_docs").cast("double")
    idf = F.log((nd - F.col("df").cast("double") + 0.5)
                / (F.col("df").cast("double") + 0.5) + 1.0)
    avgdl = F.col("sum_dl").cast("double") / nd
    tfd = F.col("tf").cast("double")
    denom = tfd + _K1 * (1.0 - _B + _B * F.col("dl").cast("double")
                         / avgdl)
    contrib = idf * tfd * (_K1 + 1.0) / denom
    rel = (j.select("doc_id",
                    F.floor(contrib * 1000000).cast("long").alias("c"))
           .groupBy("doc_id").agg(F.sum("c").alias("s"))
           .orderBy(F.desc("s"), "doc_id").limit(_BM25_TOPK)
           .select("doc_id"))
    # candidate terms: distinct (doc, tok) postings inside R
    cand = (toks.join(F.broadcast(rel), "doc_id")
            .filter(~F.col("tok").isin(_QUERY_TERMS)
                    & (F.length("tok") >= _PRF_MIN_LEN))
            .select("doc_id", "tok").distinct()
            .groupBy("tok").agg(F.count(F.lit(1)).alias("r")))
    # corpus df ONLY for candidate terms: the broadcast semi-join
    # prunes the corpus-wide (doc, tok) distinct to R's vocabulary —
    # without it the probe read 5.9x at 10x data (the pruned form is
    # 1.0x: the scan is corpus-sized but the shuffle is R-sized)
    df_all = (toks.join(F.broadcast(cand.select("tok")), "tok",
                        "left_semi")
              .select("doc_id", "tok").distinct()
              .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    scored = (cand.join(df_all, "tok").crossJoin(F.broadcast(nstats)))
    rr, dfd = F.col("r").cast("double"), F.col("df").cast("double")
    big_r = float(_BM25_TOPK)
    w = rr * F.log(((rr + 0.5)
                    * (F.col("n_docs").cast("double") - dfd - big_r
                       + rr + 0.5))
                   / ((dfd - rr + 0.5) * (big_r - rr + 0.5)))
    return (scored.select("tok", "r", "df",
                          F.floor(w * 1000000).cast("long")
                          .alias("offer_weight_micro"))
            .orderBy(F.desc("offer_weight_micro"), "tok")
            .limit(_PRF_TOPK_TERMS))


PRF_SQL = f"""
WITH {_TOKS_SQL},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nstats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
           FROM dl),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ({_QT_SQL}) GROUP BY 1, 2
),
dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln((CAST(n.n_docs AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5)
              + 1.0)
           * CAST(tf.tf AS DOUBLE) * ({_K1} + 1.0)
           / (CAST(tf.tf AS DOUBLE)
              + {_K1} * (1.0 - {_B} + {_B} * CAST(dl.dl AS DOUBLE)
                         / (CAST(n.sum_dl AS DOUBLE)
                            / CAST(n.n_docs AS DOUBLE))))
           * 1000000) AS BIGINT) AS c
  FROM tf JOIN dfq ON dfq.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN nstats n
),
rel AS (
  SELECT doc_id FROM scored GROUP BY doc_id
  ORDER BY CAST(sum(c) AS BIGINT) DESC, doc_id LIMIT {_BM25_TOPK}
),
cand AS (
  SELECT tok, count(*) AS r
  FROM (SELECT DISTINCT t.doc_id, t.tok
        FROM toks t JOIN rel USING (doc_id)
        WHERE t.tok NOT IN ({_QT_SQL}) AND length(t.tok) >= {_PRF_MIN_LEN})
  GROUP BY tok
),
df_all AS (
  -- corpus df only for candidate terms (R's vocabulary)
  SELECT tok, count(*) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM toks
        WHERE tok IN (SELECT tok FROM cand)) GROUP BY tok
)
SELECT c.tok, CAST(c.r AS BIGINT) AS r, CAST(d.df AS BIGINT) AS df,
       CAST(floor(CAST(c.r AS DOUBLE)
                  * ln(((CAST(c.r AS DOUBLE) + 0.5)
                        * (CAST(n.n_docs AS DOUBLE)
                           - CAST(d.df AS DOUBLE) - {_BM25_TOPK}.0
                           + CAST(c.r AS DOUBLE) + 0.5))
                       / ((CAST(d.df AS DOUBLE)
                           - CAST(c.r AS DOUBLE) + 0.5)
                          * ({_BM25_TOPK}.0
                             - CAST(c.r AS DOUBLE) + 0.5)))
                  * 1000000) AS BIGINT) AS offer_weight_micro
FROM cand c JOIN df_all d USING (tok) CROSS JOIN nstats n
ORDER BY offer_weight_micro DESC, c.tok
LIMIT {_PRF_TOPK_TERMS}
"""


QUERIES["text_query_expansion_prf"] = (text_query_expansion_prf,
                                       PRF_SQL)
