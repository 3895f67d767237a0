"""Round-6 training-data pipeline batch 2: CCNet-style per-language
quality bucketing — the head/middle/tail split a web-scale corpus
pipeline applies before sampling (CCNet, Wenzek et al. 2020, uses
per-language LM-perplexity thirds; the deterministic stand-in score
here is chars-per-token in exact micro-units).

House rules: exact integer score (integer `div`, no float), the
per-language thirds computed with the two-pass rank + arithmetic
ntile (operators/ranks.py) — never a per-language window funneling a
whole language through one task — and an oracle that replays the
ntile split bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.operators.ranks import ntile_from_rank, two_pass_rank
from storagetapper_spark.operators.text import word_count
from storagetapper_spark.plans.common import t

QUERIES: dict = {}


def text_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language head/middle/tail corpus split by a deterministic
    quality score (chars-per-token, micro-units): rank docs within
    each language by (score, doc_id), cut into exact ntile thirds,
    and report per (lang, bucket) the doc count, char budget, and
    score range — the CCNet sampling manifest."""
    docs = t(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars",
        word_count(F.col("text")).alias("ws"))
    scored = docs.select(
        "doc_id", "lang", "n_chars",
        F.expr("(n_chars * 1000000) div greatest(ws, 1)")
        .alias("score_micro"))
    ranked = two_pass_rank(
        scored, order=[F.col("score_micro"), F.col("doc_id")],
        bucket=F.floor(F.col("score_micro") / 250000).cast("long"),
        partition=["lang"])
    tile = ntile_from_rank(F.col("_rank"), F.col("_n"), 3)
    bucket = (F.when(tile == 1, F.lit("head"))
              .when(tile == 2, F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (ranked.select("lang", bucket.alias("bucket"), "n_chars",
                          "score_micro")
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("n_chars").alias("chars_total"),
                 F.min("score_micro").alias("min_score"),
                 F.max("score_micro").alias("max_score"))
            .orderBy("lang", "bucket"))


CCNET_BUCKETS_SQL = """
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         (n_chars * 1000000) // greatest(
           CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
                THEN 0
                ELSE length(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                     - length(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', ''))
                     + 1
           END, 1) AS score_micro
  FROM documents
),
tiled AS (
  SELECT lang, n_chars, score_micro,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY score_micro, doc_id) AS tile
  FROM scored
)
SELECT lang,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*) AS docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       min(score_micro) AS min_score,
       max(score_micro) AS max_score
FROM tiled
GROUP BY 1, 2
ORDER BY lang, bucket
"""


QUERIES["text_ccnet_buckets"] = (text_ccnet_buckets, CCNET_BUCKETS_SQL)


_NEG_POOL = 100
_NEG_K = 5


def sample_negatives_contrastive(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every user, K=5 parts they never purchased, drawn from the top-100
    most-purchased candidate pool by salted-md5 order (popularity-
    biased negatives — the standard recsys/contrastive recipe).

    Scale: the candidate pool is a TakeOrdered top-100 broadcast, so
    the candidate join is users x 100 (BuildRight broadcast — the
    ann_brute_force-sanctioned shape), the anti-join removes seen
    items on the (user, part) key, and the per-user ranking window
    holds <= 100 rows per partition.  No corpus-wide window, no
    unbounded fan-out; md5 draws make the sample replayable."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    # the pool collect and the per-user draw read it
    pos = pin(li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .select(F.col("o_custkey").alias("c"),
                      F.col("l_partkey").alias("p"))
              .distinct())
    # r10 (guide §2.4): the candidate pool is 100 part ids — collect it
    # (k-bounded, the model-collect convention) and do the whole
    # negative draw as NARROW array expressions after ONE groupBy(c):
    # seen-pool items per user via collect_set over an InSet filter,
    # array_except against the pool literal, and the (md5, p) top-5 by
    # sorting ≤100 structs per row.  The former plan paid a users×pool
    # crossJoin, a (c,p) anti-join shuffle AND a per-user window
    # shuffle; selection is unchanged (same md5 draw, same tie-break).
    pool = [int(r.p) for r in
            (pos.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.desc("n"), "p").limit(_NEG_POOL).select("p")
             .collect())]
    pool_lit = F.array(*[F.lit(p).cast("long") for p in sorted(pool)])
    per_user = (pos.groupBy("c")
                .agg(F.collect_set(F.when(F.col("p").isin(pool), F.col("p")))
                     .alias("seen")))
    # explode the ≤100 not-seen candidates per user (narrow generator),
    # hash with CODEGEN'd md5 (an md5 inside a transform() lambda runs
    # interpreted — measured 2x slower than this), and rank with a
    # window that REUSES the groupBy(c) hash partitioning (same key,
    # same partition count -> Sort only, no new Exchange; guide §2.4).
    from pyspark.sql import Window
    cand = (per_user.select(
        "c", F.explode(F.array_except(pool_lit, F.col("seen"))).alias("p")))
    rn = F.row_number().over(
        Window.partitionBy("c").orderBy(
            F.md5(F.concat(F.col("c").cast("string"), F.lit(":"),
                           F.col("p").cast("string"))), "p"))
    return (cand.select("c", "p", rn.alias("rnk"))
            .filter(F.col("rnk") <= _NEG_K)
            .select(F.col("c").alias("custkey"),
                    F.col("p").alias("neg_partkey"), "rnk")
            .orderBy("custkey", "rnk"))


NEGATIVES_SQL = f"""
WITH pos AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
pop AS (
  SELECT p FROM (
    SELECT p, count(*) AS n FROM pos GROUP BY p
    ORDER BY n DESC, p LIMIT {_NEG_POOL})
),
users AS (SELECT DISTINCT c FROM pos),
cand AS (SELECT u.c, pop.p FROM users u CROSS JOIN pop),
neg AS (
  SELECT cand.c, cand.p FROM cand
  LEFT JOIN pos ON pos.c = cand.c AND pos.p = cand.p
  WHERE pos.c IS NULL
),
ranked AS (
  SELECT c, p,
         row_number() OVER (
           PARTITION BY c
           ORDER BY md5(CAST(c AS VARCHAR) || ':' || CAST(p AS VARCHAR)),
                    p) AS rn
  FROM neg
)
SELECT c AS custkey, p AS neg_partkey, rn AS rnk
FROM ranked WHERE rn <= {_NEG_K}
ORDER BY custkey, rnk
"""


QUERIES["sample_negatives_contrastive"] = (sample_negatives_contrastive,
                                           NEGATIVES_SQL)


_SPAN_LEN = 3


def text_span_corruption_plan(spark: SparkSession, sf: str) -> DataFrame:
    """T5-style span-corruption plan: per document, mask ~15% of the
    whitespace tokens in length-3 spans at deterministic, evenly-
    strided start offsets (start_i = (i*n) div n_spans, stride >= 20
    so spans never overlap).  A pure narrow generator — no shuffle, no
    Python stage; the executor masking pass consumes exactly these
    offsets, so the plan (not the corruptor) decides reproducibility.
    Both engines build the offset arrays with identical integer
    arithmetic.  Offsets are emitted comma-joined (`mask_starts_csv`)
    so every output column is scalar (hash-canonicalizable); the
    masking pass splits on ','."""
    docs = t(spark, sf, "documents").select(
        "doc_id", word_count(F.col("text")).alias("n"))
    planned = docs.select(
        "doc_id", F.col("n").alias("n_tokens"),
        F.expr("n div 20").alias("n_spans"))
    return (planned.filter(F.col("n_spans") >= 1)
            .select(
                "doc_id", "n_tokens", "n_spans",
                F.expr("array_join(transform(sequence(0, cast(n_spans as int) - 1), "
                       "i -> cast((i * n_tokens) div n_spans as string)), ',')")
                .alias("mask_starts_csv"),
                F.expr(f"(n_spans * {_SPAN_LEN} * 1000000) div n_tokens")
                .alias("corrupted_micro"))
            .orderBy("doc_id"))


SPAN_CORRUPTION_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
              THEN 0
              ELSE length(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                   - length(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', ''))
                   + 1
         END AS n_tokens
  FROM documents
),
planned AS (
  SELECT doc_id, n_tokens, n_tokens // 20 AS n_spans FROM docs
)
SELECT doc_id, n_tokens, n_spans,
       array_to_string(
         list_transform(range(0, CAST(n_spans AS INTEGER)),
                        i -> CAST(CAST((i * n_tokens) // n_spans AS BIGINT)
                                  AS VARCHAR)),
         ',') AS mask_starts_csv,
       (n_spans * {_SPAN_LEN} * 1000000) // n_tokens AS corrupted_micro
FROM planned WHERE n_spans >= 1
ORDER BY doc_id
"""


QUERIES["text_span_corruption_plan"] = (text_span_corruption_plan,
                                        SPAN_CORRUPTION_SQL)


def text_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021, table A1 subset) as
    per-language rule diagnostics: word-count bounds, mean-word-length
    band, symbol-to-word ratio, alphabetic-character fraction, and a
    minimum stop-word count — every rule an exact integer comparison
    (cross-multiplied ratios, never floats), one scan, one hash
    aggregation by language."""
    txt = F.col("text")
    n_chars = F.length(txt).cast("long")
    n_space = (F.length(txt)
               - F.length(F.regexp_replace(txt, " ", ""))).cast("long")
    words = word_count(txt)
    alpha = F.length(F.regexp_replace(txt, "[^A-Za-z]", "")).cast("long")
    symbols = (F.length(txt)
               - F.length(F.regexp_replace(txt, "[#*@%]", ""))).cast("long")
    padded = F.concat(F.lit(" "), F.lower(txt), F.lit(" "))
    stop_hits = sum(
        ((F.length(padded) - F.length(F.regexp_replace(padded, w, "")))
         / F.lit(len(w.replace("\\", "")))).cast("long")
        for w in [" the ", " and ", " of "])
    base = t(spark, sf, "documents").select(
        "lang",
        words.alias("w"), n_chars.alias("nc"), n_space.alias("ns"),
        alpha.alias("na"), symbols.alias("sy"),
        stop_hits.alias("sh"))
    r1 = (F.col("w") >= 50) & (F.col("w") <= 100000)
    mwl_num = (F.col("nc") - F.col("ns")) * 1000000
    r2 = ((mwl_num >= 3000000 * F.greatest(F.col("w"), F.lit(1)))
          & (mwl_num <= 10000000 * F.greatest(F.col("w"), F.lit(1))))
    r3 = F.col("sy") * 10 <= F.col("w")
    r4 = F.col("na") * 10 >= (F.col("nc") - F.col("ns")) * 7
    r5 = F.col("sh") >= 2
    flags = base.select(
        "lang",
        r1.cast("int").alias("p1"), r2.cast("int").alias("p2"),
        r3.cast("int").alias("p3"), r4.cast("int").alias("p4"),
        r5.cast("int").alias("p5"),
        (r1 & r2 & r3 & r4 & r5).cast("int").alias("pall"))
    return (flags.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("p1").alias("pass_wordcount"),
                 F.sum("p2").alias("pass_wordlen"),
                 F.sum("p3").alias("pass_symbols"),
                 F.sum("p4").alias("pass_alpha"),
                 F.sum("p5").alias("pass_stopwords"),
                 F.sum("pall").alias("pass_all"),
                 F.floor(F.sum("pall") * 1000000 / F.count(F.lit(1)))
                 .cast("long").alias("pass_rate_micro"))
            .orderBy("lang"))


GOPHER_SQL = """
WITH base AS (
  SELECT lang,
         CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
              THEN 0
              ELSE length(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                   - length(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', ''))
                   + 1
         END AS w,
         CAST(length(text) AS BIGINT) AS nc,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
           AS ns,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              AS BIGINT) AS na,
         CAST(length(text) - length(regexp_replace(text, '[#*@%]', '', 'g'))
              AS BIGINT) AS sy,
         CAST((length(' ' || lower(text) || ' ')
               - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5
              AS BIGINT)
         + CAST((length(' ' || lower(text) || ' ')
               - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5
              AS BIGINT)
         + CAST((length(' ' || lower(text) || ' ')
               - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4
              AS BIGINT) AS sh
  FROM documents
),
flags AS (
  SELECT lang,
         CASE WHEN w >= 50 AND w <= 100000 THEN 1 ELSE 0 END AS p1,
         CASE WHEN (nc - ns) * 1000000 >= 3000000 * greatest(w, 1)
                AND (nc - ns) * 1000000 <= 10000000 * greatest(w, 1)
              THEN 1 ELSE 0 END AS p2,
         CASE WHEN sy * 10 <= w THEN 1 ELSE 0 END AS p3,
         CASE WHEN na * 10 >= (nc - ns) * 7 THEN 1 ELSE 0 END AS p4,
         CASE WHEN sh >= 2 THEN 1 ELSE 0 END AS p5
  FROM base
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(p1) AS BIGINT) AS pass_wordcount,
       CAST(sum(p2) AS BIGINT) AS pass_wordlen,
       CAST(sum(p3) AS BIGINT) AS pass_symbols,
       CAST(sum(p4) AS BIGINT) AS pass_alpha,
       CAST(sum(p5) AS BIGINT) AS pass_stopwords,
       CAST(sum(p1 * p2 * p3 * p4 * p5) AS BIGINT) AS pass_all,
       CAST(floor(sum(p1 * p2 * p3 * p4 * p5) * 1000000 / count(*))
            AS BIGINT) AS pass_rate_micro
FROM flags
GROUP BY lang
ORDER BY lang
"""


QUERIES["text_gopher_rules"] = (text_gopher_rules, GOPHER_SQL)


_FH_BUCKETS = 1024


def text_feature_hashing_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick collision audit: hash every distinct token type
    into 1024 buckets (salted md5 — replayable) and report, per
    language, the bucket occupancy profile a feature-hashing encoder
    would suffer: types, buckets used, max types per bucket, and the
    collision rate (types that share a bucket with another type /
    types).  The standard pre-flight before fixing a hashed feature
    dimension.

    Scale: token explode -> (lang, type) distinct -> 1024-bucket agg;
    all shuffles key-bounded (vocabulary is Heaps'-law sublinear)."""
    toks = t(spark, sf, "documents").select(
        "lang",
        F.explode(F.split(F.trim(F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
            " +", " ")), " ")).alias("tok")).filter(F.col("tok") != "")
    types = toks.select("lang", "tok").distinct()
    bucketed = types.select(
        "lang",
        F.pmod(F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
               .cast("long"), F.lit(_FH_BUCKETS)).alias("b"))
    occ = (bucketed.groupBy("lang", "b")
           .agg(F.count(F.lit(1)).alias("n_types")))
    return (occ.groupBy("lang")
            .agg(F.sum("n_types").alias("n_types"),
                 F.count(F.lit(1)).alias("buckets_used"),
                 F.max("n_types").alias("max_bucket_types"),
                 F.sum(F.when(F.col("n_types") > 1, F.col("n_types"))
                       .otherwise(0)).alias("colliding_types"),
                 F.floor(F.sum(F.when(F.col("n_types") > 1,
                                      F.col("n_types")).otherwise(0))
                         * 1000000 / F.sum("n_types")).cast("long")
                 .alias("collision_rate_micro"))
            .orderBy("lang"))


FEATURE_HASHING_SQL = f"""
WITH toks AS (
  SELECT lang, unnest(string_split(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')), ' ')) AS tok
  FROM documents
),
types AS (
  SELECT DISTINCT lang, tok FROM toks WHERE tok <> ''
),
bucketed AS (
  SELECT lang,
         CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
           % {_FH_BUCKETS} AS b
  FROM types
),
occ AS (
  SELECT lang, b, count(*) AS n_types FROM bucketed GROUP BY 1, 2
)
SELECT lang,
       CAST(sum(n_types) AS BIGINT) AS n_types,
       count(*) AS buckets_used,
       CAST(max(n_types) AS BIGINT) AS max_bucket_types,
       CAST(sum(CASE WHEN n_types > 1 THEN n_types ELSE 0 END)
            AS BIGINT) AS colliding_types,
       CAST(floor(sum(CASE WHEN n_types > 1 THEN n_types ELSE 0 END)
                  * 1000000 / sum(n_types)) AS BIGINT)
         AS collision_rate_micro
FROM occ
GROUP BY lang
ORDER BY lang
"""


QUERIES["text_feature_hashing_audit"] = (text_feature_hashing_audit,
                                         FEATURE_HASHING_SQL)


_CTX_LEN = 512


def text_padding_waste(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window padding audit: with a 512-token context and
    one-doc-per-sequence batching, each doc costs ceil(tokens/512)
    sequences and wastes (n_seq*512 - tokens) pad slots; against the
    packed lower bound ceil(sum(tokens)/512) this is the utilization
    gap that motivates sequence packing (sample_pack_*).  Per-language
    totals in exact integers."""
    docs = t(spark, sf, "documents").select(
        "lang", word_count(F.col("text")).alias("tok"))
    per = docs.select(
        "lang", "tok",
        F.expr(f"(tok + {_CTX_LEN} - 1) div {_CTX_LEN}").alias("n_seq"))
    return (per.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("tok").alias("tokens"),
                 F.sum("n_seq").alias("padded_seqs"),
                 F.expr(f"(sum(tok) + {_CTX_LEN} - 1) div {_CTX_LEN}")
                 .alias("packed_seqs"),
                 (F.sum("n_seq") * _CTX_LEN - F.sum("tok"))
                 .alias("pad_slots"),
                 F.floor((F.sum("n_seq") * _CTX_LEN - F.sum("tok"))
                         * 1000000 / (F.sum("n_seq") * _CTX_LEN))
                 .cast("long").alias("waste_micro"))
            .orderBy("lang"))


PADDING_WASTE_SQL = f"""
WITH docs AS (
  SELECT lang,
         CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
              THEN 0
              ELSE length(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                   - length(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', ''))
                   + 1
         END AS tok
  FROM documents
),
per AS (
  SELECT lang, tok, (tok + {_CTX_LEN} - 1) // {_CTX_LEN} AS n_seq
  FROM docs
)
SELECT lang, count(*) AS docs,
       CAST(sum(tok) AS BIGINT) AS tokens,
       CAST(sum(n_seq) AS BIGINT) AS padded_seqs,
       CAST((sum(tok) + {_CTX_LEN} - 1) // {_CTX_LEN} AS BIGINT)
         AS packed_seqs,
       CAST(sum(n_seq) * {_CTX_LEN} - sum(tok) AS BIGINT) AS pad_slots,
       CAST(floor((sum(n_seq) * {_CTX_LEN} - sum(tok)) * 1000000
                  / (sum(n_seq) * {_CTX_LEN})) AS BIGINT)
         AS waste_micro
FROM per
GROUP BY lang
ORDER BY lang
"""


QUERIES["text_padding_waste"] = (text_padding_waste, PADDING_WASTE_SQL)


_BOT_RATE = 3          # events per active day
_BOT_CV2_MICRO = 700000   # gap-CV^2 below this = suspiciously regular
_BOT_MIN_GAPS = 10


def events_bot_detection(spark: SparkSession, sf: str) -> DataFrame:
    """Rule-based bot screening over the event stream — the traffic-
    cleaning pass a training pipeline runs before behavioral data is
    trusted: per user, the event rate per active day and the
    inter-arrival regularity (squared coefficient of variation of the
    gap series; near-constant gaps = automation).  Gap moments are
    exact BIGINT sums; CV^2 is one double expression over them; both
    rules are integer/floored comparisons.  Output: the per-class user
    and event census (both / high_rate / too_regular / clean).

    Scale: one per-user window (per-key partitions) + one per-user
    agg + a 4-row rollup.  Thresholds are fixture-calibrated config
    constants (rate >= 3/day, CV^2 <= 0.7 with >= 10 gaps)."""
    from pyspark.sql import Window

    ev = t(spark, sf, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("long").alias("e"),
        F.to_date("ts").alias("dd"))
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    g = ev.select(
        "user_id", "dd",
        (F.col("e") - F.lag("e").over(w)).alias("gap"))
    pu = (g.groupBy("user_id")
          .agg(F.count(F.lit(1)).alias("n"),
               F.countDistinct("dd").alias("nd"),
               F.count("gap").alias("ng"),
               F.sum("gap").alias("sg"),
               F.sum(F.col("gap") * F.col("gap")).alias("sg2")))
    d = "double"
    cv2_micro = F.when(
        (F.col("ng") >= _BOT_MIN_GAPS) & (F.col("sg") > 0),
        F.floor((F.col("ng").cast(d) * F.col("sg2").cast(d)
                 - F.col("sg").cast(d) * F.col("sg").cast(d))
                / (F.col("sg").cast(d) * F.col("sg").cast(d))
                * 1000000.0).cast("long"))
    flagged = pu.select(
        "n",
        (F.col("n") >= F.col("nd") * _BOT_RATE).alias("high_rate"),
        (cv2_micro <= _BOT_CV2_MICRO).alias("too_regular"))
    reason = (F.when(F.col("high_rate")
                     & F.coalesce(F.col("too_regular"), F.lit(False)),
                     "both")
              .when(F.col("high_rate"), "high_rate")
              .when(F.coalesce(F.col("too_regular"), F.lit(False)),
                    "too_regular")
              .otherwise("clean"))
    tot = flagged.agg(F.sum("n").alias("all_events"))
    return (flagged.select(reason.alias("reason"), "n")
            .groupBy("reason")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("n").alias("n_events"))
            .crossJoin(F.broadcast(tot))
            .select("reason", "n_users", "n_events",
                    F.floor(F.col("n_events") * 1000000
                            / F.col("all_events")).cast("long")
                    .alias("event_share_micro"))
            .orderBy("reason"))


BOT_DETECTION_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS e,
         CAST(ts AS DATE) AS dd
  FROM events
),
g AS (
  SELECT user_id, dd,
         e - lag(e) OVER (PARTITION BY user_id ORDER BY e, event_id)
           AS gap
  FROM ev
),
pu AS (
  SELECT user_id, count(*) AS n, count(DISTINCT dd) AS nd,
         count(gap) AS ng,
         CAST(sum(gap) AS BIGINT) AS sg,
         CAST(sum(gap * gap) AS BIGINT) AS sg2
  FROM g GROUP BY user_id
),
flagged AS (
  SELECT n,
         n >= nd * {_BOT_RATE} AS high_rate,
         (CASE WHEN ng >= {_BOT_MIN_GAPS} AND sg > 0
               THEN CAST(floor((CAST(ng AS DOUBLE) * CAST(sg2 AS DOUBLE)
                                - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                               / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                               * 1000000.0) AS BIGINT)
          END) <= {_BOT_CV2_MICRO} AS too_regular
  FROM pu
),
classed AS (
  SELECT CASE WHEN high_rate AND coalesce(too_regular, false)
              THEN 'both'
              WHEN high_rate THEN 'high_rate'
              WHEN coalesce(too_regular, false) THEN 'too_regular'
              ELSE 'clean' END AS reason,
         n
  FROM flagged
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS all_events FROM classed)
SELECT reason, count(*) AS n_users,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(floor(sum(n) * 1000000 / all_events) AS BIGINT)
         AS event_share_micro
FROM classed, tot
GROUP BY reason, all_events
ORDER BY reason
"""


QUERIES["events_bot_detection"] = (events_bot_detection,
                                   BOT_DETECTION_SQL)


# (the former _cell_rank crossJoin+window helper was replaced in r10 by
# operators/similarity.cell_rank_np — one Arrow/numpy pass, same
# round-6 sims and (sim DESC, centroid_id) tie-break)


_NP_QUERIES = 5
_NP_K = 5
_NP_CENTROIDS = 16
_NP_SWEEP = [1, 2, 4, 8]


def ann_ivf_nprobe_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """IVF recall-vs-cost sweep over the probe count: for nprobe in
    {1,2,4,8}, the recall@5 against the exact cosine top-5 AND the
    candidate rows scanned — the measured trade a 100 TB vector
    deployment tunes (each +probe reads another 1/16 of the corpus).
    Assignment and probing are cosine-rank based (deterministic
    tie-break by centroid id) so the oracle replays the whole sweep;
    candidates carry their cell's probe rank, so ONE scoring pass
    serves every cutoff."""
    from pyspark.sql import Window

    # r10 (guide §4.2): cell ranking and every pairwise cosine run as
    # Arrow/numpy passes (operators/similarity.cell_rank_np /
    # cosine_score_np) — the expression form paid 3 interpreted
    # zip_with/aggregate folds per (pair) and a rows×centroids
    # window sort for assignment.  Same round-6 sims and (sim DESC,
    # id) tie-breaks.
    from storagetapper_spark.operators.similarity import (
        cell_rank_np,
        cosine_score_np,
    )

    emb = t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qs = (emb.filter(F.col("vec_id") < _NP_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("v").alias("qv")))
    corpus = emb.filter(F.col("vec_id") >= _NP_QUERIES)
    cent_rows = [(i, list(r.v)) for i, r in enumerate(
        corpus.select("vec_id", "v").orderBy("vec_id")
              .limit(_NP_CENTROIDS).collect())]
    # corpus -> nearest centroid (rank 1), queries -> ranked probes
    ca = cell_rank_np(corpus, cent_rows, "vec_id", "v", 1) \
        .select("vec_id", "v", "centroid_id")
    probes = (cell_rank_np(qs, cent_rows, "query_id", "qv",
                           max(_NP_SWEEP),
                           keep_cols=["query_id", "qv"])
              .select("query_id", "qv", "centroid_id",
                      F.col("rn").cast("int").alias("cell_rank")))
    scored = cosine_score_np(
        ca.join(F.broadcast(probes), "centroid_id"), "v", "qv",
        ["query_id", "vec_id", "cell_rank"], out_col="sim")
    exact = (cosine_score_np(corpus.crossJoin(F.broadcast(qs)),
                             "v", "qv", ["query_id", "vec_id"],
                             out_col="sim")
             .withColumn("r", F.row_number().over(
                 Window.partitionBy("query_id").orderBy(
                     F.desc("sim"), "vec_id")))
             .filter(F.col("r") <= _NP_K)
             .select("query_id", "vec_id"))
    sweep = spark.createDataFrame([(p,) for p in _NP_SWEEP], ["nprobe"])
    cand = (scored.crossJoin(F.broadcast(sweep))
            .filter(F.col("cell_rank") <= F.col("nprobe")))
    approx = (cand.withColumn("r", F.row_number().over(
        Window.partitionBy("nprobe", "query_id").orderBy(
            F.desc("sim"), "vec_id")))
        .filter(F.col("r") <= _NP_K)
        .select("nprobe", "query_id", "vec_id"))
    common = (approx.join(exact, ["query_id", "vec_id"])
              .groupBy("nprobe").agg(F.count(F.lit(1)).alias("n_common")))
    cost = cand.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("candidate_rows"))
    denom = _NP_QUERIES * _NP_K
    return (sweep.join(common, "nprobe", "left")
            .join(cost, "nprobe", "left")
            .select("nprobe",
                    F.coalesce("n_common", F.lit(0)).cast("long")
                    .alias("n_common"),
                    F.coalesce("candidate_rows", F.lit(0)).cast("long")
                    .alias("candidate_rows"),
                    F.floor(F.coalesce("n_common", F.lit(0))
                            * 1000000 / denom).cast("long")
                    .alias("recall_micro"))
            .orderBy("nprobe"))


# shared by the nprobe sweep and the kNN eval — ONE definition of the
# rounded-cosine macro and the rank-based cell assignment, so the two
# IVF consumers cannot fork semantics
_IVF_COS_SQL = ("round(list_dot_product({a}, {b}) / "
                "(sqrt(list_dot_product({a}, {a})) * "
                "sqrt(list_dot_product({b}, {b}))), 6)")
_NP_COS = _IVF_COS_SQL

NPROBE_SWEEP_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {_NP_QUERIES}),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= {_NP_QUERIES}),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT {_NP_CENTROIDS})
),
assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT c.vec_id, c.v, cent.centroid_id,
           row_number() OVER (PARTITION BY c.vec_id ORDER BY
             {_NP_COS.format(a='c.v', b='cent.cv')} DESC, cent.centroid_id
           ) AS rn
    FROM c CROSS JOIN cent) WHERE rn = 1
),
probes AS (
  SELECT query_id, qv, centroid_id, rn AS cell_rank FROM (
    SELECT q.query_id, q.qv, cent.centroid_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_NP_COS.format(a='q.qv', b='cent.cv')} DESC, cent.centroid_id
           ) AS rn
    FROM q CROSS JOIN cent) WHERE rn <= {max(_NP_SWEEP)}
),
scored AS (
  SELECT p.query_id, a.vec_id, p.cell_rank,
         {_NP_COS.format(a='a.v', b='p.qv')} AS sim
  FROM assign a JOIN probes p USING (centroid_id)
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_NP_COS.format(a='c.v', b='q.qv')} DESC, c.vec_id) AS r
    FROM c CROSS JOIN q) WHERE r <= {_NP_K}
),
sweep AS (SELECT unnest({_NP_SWEEP}) AS nprobe),
cand AS (
  SELECT s.nprobe, sc.query_id, sc.vec_id, sc.sim
  FROM scored sc JOIN sweep s ON sc.cell_rank <= s.nprobe
),
approx AS (
  SELECT nprobe, query_id, vec_id FROM (
    SELECT nprobe, query_id, vec_id,
           row_number() OVER (PARTITION BY nprobe, query_id
             ORDER BY sim DESC, vec_id) AS r
    FROM cand) WHERE r <= {_NP_K}
),
common AS (
  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_common
  FROM approx JOIN exact USING (query_id, vec_id)
  GROUP BY nprobe
),
cost AS (
  SELECT nprobe, CAST(count(*) AS BIGINT) AS candidate_rows
  FROM cand GROUP BY nprobe
)
SELECT s.nprobe,
       CAST(coalesce(common.n_common, 0) AS BIGINT) AS n_common,
       CAST(coalesce(cost.candidate_rows, 0) AS BIGINT)
         AS candidate_rows,
       CAST(floor(coalesce(common.n_common, 0) * 1000000
                  / {_NP_QUERIES * _NP_K}) AS BIGINT) AS recall_micro
FROM sweep s
LEFT JOIN common ON common.nprobe = s.nprobe
LEFT JOIN cost ON cost.nprobe = s.nprobe
ORDER BY s.nprobe
"""


QUERIES["ann_ivf_nprobe_sweep"] = (ann_ivf_nprobe_sweep, NPROBE_SWEEP_SQL)


_PREF_GROUP = 20
_PREF_MARGIN = 100000   # minimum micro-score separation


def sample_preference_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training: within
    each prompt group (vec_id div 20 — the candidate-responses-per-
    prompt convention), pair the highest-scoring candidate (chosen)
    with the lowest (rejected), keep pairs whose margin clears 0.1,
    and emit (prompt, chosen, rejected, margin).  Scores are exact
    micro ints; winners are min_by/max_by with deterministic id
    tie-breaks, so both engines build the identical pair set.

    Scale: one groupBy on the prompt key (bounded 20-row groups) —
    min_by/max_by aggregate map-side; no window, no self-join."""
    emb = t(spark, sf, "embeddings")
    base = emb.select(
        (F.col("vec_id") / _PREF_GROUP).cast("long").alias("prompt_id"),
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1000000)
        .cast("long").alias("s"))
    # deterministic ties: prefer the LOWER vec_id on equal scores, via
    # a composite ordering key (score desc -> (s, -vec_id) max)
    g = (base.groupBy("prompt_id")
         .agg(F.max(F.struct(F.col("s"), (-F.col("vec_id")).alias("nv")))
              .alias("hi"),
              F.min(F.struct(F.col("s"), F.col("vec_id").alias("v")))
              .alias("lo"),
              F.count(F.lit(1)).alias("n_candidates")))
    out = g.select(
        "prompt_id", "n_candidates",
        (-F.col("hi.nv")).alias("chosen_vec"),
        F.col("lo.v").alias("rejected_vec"),
        (F.col("hi.s") - F.col("lo.s")).alias("margin_micro"))
    return (out.filter(F.col("margin_micro") >= _PREF_MARGIN)
            .orderBy("prompt_id"))


PREFERENCE_PAIRS_SQL = f"""
WITH base AS (
  SELECT CAST(vec_id // {_PREF_GROUP} AS BIGINT) AS prompt_id, vec_id,
         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
           AS s
  FROM embeddings
),
g AS (
  SELECT prompt_id, max(s) AS hi_s, min(s) AS lo_s,
         count(*) AS n_candidates
  FROM base GROUP BY prompt_id
),
picked AS (
  SELECT b.prompt_id, g.n_candidates,
         min(CASE WHEN b.s = g.hi_s THEN b.vec_id END) AS chosen_vec,
         min(CASE WHEN b.s = g.lo_s THEN b.vec_id END) AS rejected_vec,
         g.hi_s - g.lo_s AS margin_micro
  FROM base b JOIN g USING (prompt_id)
  GROUP BY b.prompt_id, g.n_candidates, g.hi_s, g.lo_s
)
SELECT prompt_id, n_candidates, chosen_vec, rejected_vec, margin_micro
FROM picked
WHERE margin_micro >= {_PREF_MARGIN}
ORDER BY prompt_id
"""


QUERIES["sample_preference_pairs"] = (sample_preference_pairs,
                                      PREFERENCE_PAIRS_SQL)


_KNN_K = 5
_KNN_CENTROIDS = 16
_KNN_PROBE = 4
_KNN_PANEL = 1000   # fixed eval panel: odd vec_ids below this


def ml_knn_eval_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-quality eval by k-NN label prediction THROUGH the IVF
    serving path: even vec_ids are the reference set, odd the eval set;
    each eval vector takes its 5 nearest reference neighbors from the
    4-probed IVF cells (the production candidate path, not brute
    force) and predicts by strict majority (ties -> negative).
    Output: the confusion row + accuracy — the standard probe of
    whether an embedding space separates labels, measured with the
    same recall/cost trade the ANN serving tier will actually use.

    Scale: the eval panel is FIXED (500 queries), so total probe work
    is panel x nprobe/n_centroids x |reference| — linear in the corpus
    with a fixed cell count.  The production knob is n_centroids
    (operators/similarity.train_centroids scales it ~sqrt(N), making
    per-query cost sqrt(N)); the fixture keeps 16 literal cells so the
    oracle replays the assignment.  The top-5 window partitions by
    eval id."""
    from pyspark.sql import Window

    # r10 (guide §4.2): cell ranking + in-cell scoring as Arrow/numpy
    # passes — see ann_ivf_nprobe_sweep; the in-cell window formerly
    # paid 3 interpreted 64-dim folds per candidate pair.
    from storagetapper_spark.operators.similarity import (
        cell_rank_np,
        cosine_score_np,
    )

    emb = t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"),
        (F.col("label") == 1).alias("pos"))
    train = emb.filter(F.col("vec_id") % 2 == 0)
    test = (emb.filter((F.col("vec_id") % 2 == 1)
                       & (F.col("vec_id") < _KNN_PANEL))
            .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                    F.col("pos").alias("q_pos")))
    cent_rows = [(i, list(r.v)) for i, r in enumerate(
        train.select("vec_id", "v").orderBy("vec_id")
             .limit(_KNN_CENTROIDS).collect())]
    ta = cell_rank_np(train, cent_rows, "vec_id", "v", 1,
                      keep_cols=["vec_id", "v", "pos"]) \
        .select("vec_id", "v", "pos", "centroid_id")
    probes = cell_rank_np(test, cent_rows, "qid", "qv", _KNN_PROBE,
                          keep_cols=["qid", "qv", "q_pos"]) \
        .select("qid", "qv", "q_pos", "centroid_id")
    nn = (cosine_score_np(ta.join(probes, "centroid_id"), "v", "qv",
                          ["qid", "q_pos", "vec_id", "pos"],
                          out_col="sim")
          .withColumn("r", F.row_number().over(
              Window.partitionBy("qid").orderBy(
                  F.desc("sim"), F.col("vec_id"))))
          .filter(F.col("r") <= _KNN_K))
    voted = (nn.groupBy("qid", "q_pos")
             .agg(F.count(F.lit(1)).alias("k_got"),
                  F.sum(F.when(F.col("pos"), 1).otherwise(0))
                  .alias("k_pos")))
    pred = (F.col("k_pos") * 2 > F.col("k_got"))
    scored = voted.select(
        "q_pos", pred.alias("pred_pos"))
    n_test = test.agg(F.count(F.lit(1)).alias("n_test"))
    return (scored.crossJoin(F.broadcast(n_test)).agg(
        F.first("n_test").alias("n_test"),
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.when(F.col("pred_pos") & F.col("q_pos"), 1)
              .otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred_pos") & ~F.col("q_pos"), 1)
              .otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred_pos") & F.col("q_pos"), 1)
              .otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("pred_pos") & ~F.col("q_pos"), 1)
              .otherwise(0)).alias("tn"))
        .select("n_test", "n_scored", "tp", "fp", "fn", "tn",
                F.floor((F.col("tp") + F.col("tn")).cast("double")
                        * 1000000.0 / F.col("n_scored").cast("double"))
                .cast("long").alias("accuracy_micro")))


_KNN_COS = _IVF_COS_SQL

KNN_EVAL_SQL = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label = 1 AS pos
  FROM embeddings
),
train AS (SELECT * FROM emb WHERE vec_id % 2 = 0),
test AS (SELECT vec_id AS qid, v AS qv, pos AS q_pos
         FROM emb WHERE vec_id % 2 = 1 AND vec_id < {_KNN_PANEL}),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cv
  FROM (SELECT vec_id, v FROM train ORDER BY vec_id
        LIMIT {_KNN_CENTROIDS})
),
ta AS (
  SELECT vec_id, v, pos, centroid_id FROM (
    SELECT t.vec_id, t.v, t.pos, cent.centroid_id,
           row_number() OVER (PARTITION BY t.vec_id ORDER BY
             {_KNN_COS.format(a='t.v', b='cent.cv')} DESC,
             cent.centroid_id) AS rn
    FROM train t CROSS JOIN cent) WHERE rn = 1
),
probes AS (
  SELECT qid, qv, q_pos, centroid_id FROM (
    SELECT q.qid, q.qv, q.q_pos, cent.centroid_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             {_KNN_COS.format(a='q.qv', b='cent.cv')} DESC,
             cent.centroid_id) AS rn
    FROM test q CROSS JOIN cent) WHERE rn <= {_KNN_PROBE}
),
nn AS (
  SELECT qid, q_pos, pos FROM (
    SELECT p.qid, p.q_pos, a.pos,
           row_number() OVER (PARTITION BY p.qid ORDER BY
             {_KNN_COS.format(a='a.v', b='p.qv')} DESC, a.vec_id) AS r
    FROM ta a JOIN probes p USING (centroid_id)) WHERE r <= {_KNN_K}
),
voted AS (
  SELECT qid, q_pos, count(*) AS k_got,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS k_pos
  FROM nn GROUP BY qid, q_pos
),
scored AS (
  SELECT q_pos, k_pos * 2 > k_got AS pred_pos FROM voted
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test,
       count(*) AS n_scored,
       CAST(sum(CASE WHEN pred_pos AND q_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(sum(CASE WHEN pred_pos AND NOT q_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(sum(CASE WHEN NOT pred_pos AND q_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(sum(CASE WHEN NOT pred_pos AND NOT q_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
       CAST(floor(CAST(sum(CASE WHEN pred_pos = q_pos THEN 1 ELSE 0 END)
                       AS DOUBLE) * 1000000.0
                  / CAST(count(*) AS DOUBLE)) AS BIGINT)
         AS accuracy_micro
FROM scored
"""


QUERIES["ml_knn_eval_ivf"] = (ml_knn_eval_ivf, KNN_EVAL_SQL)
