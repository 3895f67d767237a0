"""Training-data pipeline batch 12 (round-10 freeze lift): passage-level
fingerprinting and curation operators the existing dedup/sampling
families can't express —

  - winnowing (MOSS) local fingerprints + passage-overlap pair
    detection (catches shared RUNS, where minhash sees only global
    Jaccard),
  - tokenizer fertility by language (the compression-rate audit that
    decides whether a tokenizer is spending budget evenly),
  - encoding-quality screening (mojibake / control chars / replacement
    chars — the pre-filter every web-scale corpus runs first),
  - exact systematic PPS sampling (probability-proportional-to-size
    without replacement, deterministic and integer-exact — the
    reproducible-weighted-sample primitive),
  - DSIR importance weights (Xie et al. 2023: hashed-n-gram importance
    resampling toward a target domain).

Every query follows the exact-integer portability idiom (BIGINT unit
sums, quantize-after-transcendental for the one log-ratio family) and
the established salted-md5 hash bridge (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators import dedup as D
from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t

QUERIES: dict = {}

_WIN_W = 4      # winnowing window (guarantee: runs of 3+4-1=6 words)
_SHINGLE_N = 3
_FP_DOC_CAP = 50   # fingerprints seen in more docs carry no pair signal
_PPS_K = 10        # systematic PPS draws per stratum
_DSIR_BUCKETS = 4096


# --- winnowing fingerprints ----------------------------------------------

def text_winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document winnowing audit: fingerprints selected, achieved
    density vs the theoretical 2/(w+1), and an order-free xor digest of
    the selected hashes.  One window pass partitioned by doc (length-
    bounded partitions), one distinct, one groupBy — linear at any
    corpus size."""
    fp = D.winnow_fingerprints(t(spark, sf, "documents"),
                               shingle_n=_SHINGLE_N, window_w=_WIN_W)
    h = F.conv(F.substring("fp_hash", 1, 15), 16, 10).cast("long")
    return (fp.select("doc_id", "n_grams", h.alias("_h"))
            .groupBy("doc_id")
            .agg(F.max("n_grams").alias("n_grams"),
                 F.count(F.lit(1)).alias("n_fp"),
                 F.expr("bit_xor(_h)").alias("fp_xor"))
            .select(
        "doc_id", "n_grams", "n_fp",
        F.greatest(F.lit(1), F.col("n_grams") - (_WIN_W - 1))
         .alias("n_windows"),
        F.expr(f"n_fp * 1000000 div greatest(1, n_grams - {_WIN_W - 1})")
         .alias("density_ppm"),
        "fp_xor")
            .orderBy("doc_id"))


def _winnow_sql_core() -> str:
    """Shared oracle CTE chain: documents -> selected (doc_id, n_grams,
    fp_hash, fp_pos) winnowing fingerprints (rightmost-min ties)."""
    n = _SHINGLE_N
    return f"""
norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS nt
  FROM documents
), toks AS (SELECT doc_id, string_split(nt, ' ') AS w FROM norm),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) < {n} THEN [array_to_string(w, ' ')]
              ELSE list_transform(range(1, len(w) - {n - 1} + 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         END AS gs
  FROM toks),
ex AS (
  SELECT doc_id, unnest(gs) AS g, generate_subscripts(gs, 1) - 1 AS pos
  FROM sh),
keyed AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY doc_id) AS n_grams,
         min(md5(g) || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0'))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
           AS wkey
  FROM ex),
sel AS (
  SELECT DISTINCT doc_id, n_grams,
         substring(wkey, 1, 32) AS fp_hash,
         999999999 - CAST(substring(wkey, 33, 9) AS BIGINT) AS fp_pos
  FROM keyed
  WHERE pos <= greatest(0, n_grams - {_WIN_W}))
"""


WINNOW_SQL = f"""
WITH {_winnow_sql_core()},
hashed AS (
  SELECT doc_id, n_grams,
         CAST(('0x' || substring(fp_hash, 1, 15)) AS BIGINT) AS h
  FROM sel)
SELECT doc_id, CAST(max(n_grams) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_fp,
       CAST(greatest(1, max(n_grams) - {_WIN_W - 1}) AS BIGINT)
         AS n_windows,
       count(*) * 1000000 // greatest(1, max(n_grams) - {_WIN_W - 1})
         AS density_ppm,
       bit_xor(h) AS fp_xor
FROM hashed GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["text_winnowing_fingerprints"] = (text_winnowing_fingerprints,
                                          WINNOW_SQL)


# --- winnowing passage-overlap pairs -------------------------------------

def dedup_winnowing_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Passage-overlap candidate pairs: documents sharing >= 2 winnowing
    fingerprints, scored by shared-fingerprint containment of the
    smaller doc.  The join is BUCKETED BY FINGERPRINT (never all-pairs)
    and fingerprints occurring in more than {cap} docs are dropped
    first — a hot fingerprint is boilerplate, not duplication signal,
    and the cap bounds every bucket's pair fan-out (the same guard the
    LSH band join uses, operators/dedup.py star-capping note).  100 TB
    shape: explode -> two bounded-key shuffles -> capped bucket join.
    """
    # r10 (guide §5): the winnowing pipeline (shingle regex + sliding
    # window) is referenced by per_doc, freq and both sides of the
    # bucket join — pin the narrow (doc_id, fp_hash) set so the text
    # is fingerprinted once, not four times.
    fp = pin(D.winnow_fingerprints(t(spark, sf, "documents"),
                                   shingle_n=_SHINGLE_N, window_w=_WIN_W)
             .select("doc_id", "fp_hash").distinct())
    per_doc = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    freq = (fp.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("_docs"))
              .filter((F.col("_docs") >= 2) & (F.col("_docs") <= _FP_DOC_CAP)))
    kept = fp.join(freq.select("fp_hash"), "fp_hash")
    a = kept.select(F.col("fp_hash"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("fp_hash"), F.col("doc_id").alias("doc_b"))
    pairs = (a.join(b, "fp_hash")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= 2))
    na = per_doc.select(F.col("doc_id").alias("doc_a"),
                        F.col("n_fp").alias("_fa"))
    nb = per_doc.select(F.col("doc_id").alias("doc_b"),
                        F.col("n_fp").alias("_fb"))
    return (pairs.join(na, "doc_a").join(nb, "doc_b")
            .select("doc_a", "doc_b", "n_shared",
                    F.expr("n_shared * 1000000 div least(_fa, _fb)")
                     .alias("containment_ppm"))
            .orderBy("doc_a", "doc_b"))


WINNOW_PAIRS_SQL = f"""
WITH {_winnow_sql_core()},
fp AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
            FROM fp GROUP BY doc_id),
freq AS (SELECT fp_hash FROM fp GROUP BY fp_hash
         HAVING count(*) BETWEEN 2 AND {_FP_DOC_CAP}),
kept AS (SELECT f.doc_id, f.fp_hash FROM fp f JOIN freq u USING (fp_hash)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash
                          AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT doc_a, doc_b, n_shared,
       n_shared * 1000000 // least(na.n_fp, nb.n_fp) AS containment_ppm
FROM pairs
JOIN per_doc na ON na.doc_id = doc_a
JOIN per_doc nb ON nb.doc_id = doc_b
ORDER BY doc_a, doc_b
"""

QUERIES["dedup_winnowing_pairs"] = (dedup_winnowing_pairs, WINNOW_PAIRS_SQL)


# --- tokenizer fertility by language -------------------------------------

_TOK_PAT = "[a-z0-9]+|[^a-z0-9 ]"


def tokenizer_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility audit: per language, how many sub-word
    tokens the BPE-ish pre-tokenization regex produces per whitespace
    word and per 100 chars — the standard check that a tokenizer isn't
    taxing some languages with systematically longer token streams.
    Pure codegen'd regex counting + one 5-group aggregate; ratios are
    integer micro-units over exact BIGINT sums."""
    docs = t(spark, sf, "documents")
    low = F.lower(F.col("text"))
    toks = F.size(F.regexp_extract_all(low, F.lit(_TOK_PAT), 0)).cast("long")
    words = (F.length("text")
             - F.length(F.regexp_replace(F.col("text"), " ", ""))
             + 1).cast("long")
    return (docs.select("lang", F.length("text").cast("long").alias("_c"),
                        words.alias("_w"), toks.alias("_t"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_c").alias("chars"),
                 F.sum("_w").alias("words"),
                 F.sum("_t").alias("tokens"))
            .select("lang", "n_docs", "chars", "words", "tokens",
                    F.expr("tokens * 1000000 div words")
                     .alias("tokens_per_word_micro"),
                    F.expr("tokens * 100000000 div chars")
                     .alias("tokens_per_100c_micro"),
                    F.expr("chars * 1000000 div tokens")
                     .alias("chars_per_token_micro"))
            .orderBy("lang"))


FERTILITY_SQL = f"""
WITH per_doc AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS c,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS w,
         CAST(len(regexp_extract_all(lower(text), '{_TOK_PAT}'))
              AS BIGINT) AS tk
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c) AS BIGINT) AS chars,
       CAST(sum(w) AS BIGINT) AS words,
       CAST(sum(tk) AS BIGINT) AS tokens,
       CAST(sum(tk) * 1000000 // sum(w) AS BIGINT)
         AS tokens_per_word_micro,
       CAST(sum(tk) * 100000000 // sum(c) AS BIGINT)
         AS tokens_per_100c_micro,
       CAST(sum(c) * 1000000 // sum(tk) AS BIGINT)
         AS chars_per_token_micro
FROM per_doc GROUP BY lang ORDER BY lang
"""

QUERIES["tokenizer_fertility_by_lang"] = (tokenizer_fertility_by_lang,
                                          FERTILITY_SQL)


# --- encoding-quality screen ---------------------------------------------

def text_encoding_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Encoding-health screen per source: replacement characters
    (U+FFFD), C0 control characters, classic UTF-8-as-Latin-1 mojibake
    markers, and the non-ASCII character share — the first-pass filter
    of any web-crawl pipeline.  One scan of codegen'd regex counters
    into a per-source aggregate."""
    docs = t(spark, sf, "documents")
    chars = F.length("text").cast("long")
    ascii_only = F.length(
        F.regexp_replace(F.col("text"), "[^\\x00-\\x7F]", "")).cast("long")
    has_repl = F.col("text").contains("�").cast("long")
    has_ctl = (F.regexp_count(F.col("text"),
                              F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
               > 0).cast("long")
    has_moji = (F.regexp_count(F.col("text"), F.lit("Ã|â€|Â")) > 0) \
        .cast("long")
    return (docs.select("source", chars.alias("_c"),
                        (chars - ascii_only).alias("_na"),
                        has_repl.alias("_r"), has_ctl.alias("_k"),
                        has_moji.alias("_m"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_c").alias("chars"),
                 F.sum("_na").alias("non_ascii_chars"),
                 F.sum("_r").alias("docs_replacement_char"),
                 F.sum("_k").alias("docs_control_chars"),
                 F.sum("_m").alias("docs_mojibake"))
            .select("source", "n_docs", "chars", "non_ascii_chars",
                    "docs_replacement_char", "docs_control_chars",
                    "docs_mojibake",
                    F.expr("non_ascii_chars * 1000000 div chars")
                     .alias("non_ascii_ppm"))
            .orderBy("source"))


ENCODING_SQL = """
WITH per_doc AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS c,
         CAST(length(text)
              - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
              AS BIGINT) AS na,
         CAST(contains(text, chr(65533)) AS BIGINT) AS r,
         CAST(regexp_matches(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')
              AS BIGINT) AS k,
         CAST(regexp_matches(text, 'Ã|â€|Â') AS BIGINT) AS m
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c) AS BIGINT) AS chars,
       CAST(sum(na) AS BIGINT) AS non_ascii_chars,
       CAST(sum(r) AS BIGINT) AS docs_replacement_char,
       CAST(sum(k) AS BIGINT) AS docs_control_chars,
       CAST(sum(m) AS BIGINT) AS docs_mojibake,
       CAST(sum(na) * 1000000 // sum(c) AS BIGINT) AS non_ascii_ppm
FROM per_doc GROUP BY source ORDER BY source
"""

QUERIES["text_encoding_quality"] = (text_encoding_quality, ENCODING_SQL)


# --- exact systematic PPS sampling ---------------------------------------

def sample_pps_systematic(spark: SparkSession, sf: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling without
    replacement: per order-priority stratum, walk the content-hash-
    ordered cumulative cents line and select every crossing of a
    step = total/k boundary — each row's inclusion probability is
    proportional to its weight, the draw is deterministic (md5 order),
    and ALL arithmetic is exact BIGINT (cross-engine bit-stable, no
    Gumbel/exponential keys needed).

    100 TB shape: the prefix sum is TWO-PHASE — local cumulative sums
    inside 16 salt buckets per stratum (parallel windows) plus a
    broadcast 80-row bucket-offset table — never one giant
    single-partition scan line.  The single-pass oracle proves the
    two-phase sum exact."""
    o = t(spark, sf, "orders")
    w = F.round(F.col("o_totalprice") * 100).cast("long")
    h = F.md5(F.col("o_orderkey").cast("string"))
    rows = o.select(F.col("o_orderpriority").alias("stratum"),
                    F.col("o_orderkey"), w.alias("w"), h.alias("h"),
                    F.substring(h, 1, 1).alias("salt"))
    wloc = (Window.partitionBy("stratum", "salt")
            .orderBy("h", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, 0))
    loc = rows.withColumn("loc_cum", F.sum("w").over(wloc))
    btot = (rows.groupBy("stratum", "salt")
            .agg(F.sum("w").alias("_bw")))
    woff = (Window.partitionBy("stratum").orderBy("salt")
            .rowsBetween(Window.unboundedPreceding, -1))
    off = btot.select("stratum", "salt",
                      F.coalesce(F.sum("_bw").over(woff), F.lit(0))
                       .alias("offset"))
    tot = (rows.groupBy("stratum").agg(F.sum("w").alias("_tw"))
           .select("stratum", F.expr(f"_tw div {_PPS_K}").alias("step")))
    cum = (loc.join(F.broadcast(off), ["stratum", "salt"])
           .join(F.broadcast(tot), "stratum")
           .select("stratum", "o_orderkey", "w",
                   (F.col("offset") + F.col("loc_cum")).alias("cum"),
                   "step"))
    return (cum.filter(F.expr("cum div step > (cum - w) div step"))
            .select("stratum", "o_orderkey", "w", "cum",
                    F.expr("cum div step").alias("sel_idx"))
            .orderBy("stratum", "sel_idx", "o_orderkey"))


PPS_SQL = f"""
WITH rows_w AS (
  SELECT o_orderpriority AS stratum, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS w,
         md5(CAST(o_orderkey AS VARCHAR)) AS h
  FROM orders),
cum AS (
  SELECT stratum, o_orderkey, w,
         CAST(sum(w) OVER (PARTITION BY stratum ORDER BY h, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(w) OVER (PARTITION BY stratum) AS BIGINT) // {_PPS_K}
           AS step
  FROM rows_w)
SELECT stratum, o_orderkey, w, cum, cum // step AS sel_idx
FROM cum
WHERE cum // step > (cum - w) // step
ORDER BY stratum, sel_idx, o_orderkey
"""

QUERIES["sample_pps_systematic"] = (sample_pps_systematic, PPS_SQL)


# --- DSIR importance weights ---------------------------------------------

def sample_dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al.
    2023): per-document importance weight toward a target domain
    (source 'src0' as the curated exemplar set) as the sum of hashed-
    unigram bucket log-likelihood ratios with add-one smoothing.  The
    log-ratio is computed ONCE PER BUCKET (4096 rows), quantized to
    micro units there (the quantize-after-transcendental idiom — a
    1-ulp libm difference flips a unit only on a measure-zero .5
    boundary), then integer-summed over each doc's token stream, so
    the per-doc weight is an exact BIGINT on both engines.

    100 TB shape: token explode -> one 4096-key aggregate ->
    broadcast ratio table joined back onto the token stream -> per-doc
    sum -> per-source rollup.  Everything shuffles on bounded keys or
    doc_id; nothing is driver-side."""
    docs = t(spark, sf, "documents")
    from storagetapper_spark.operators.text import normalize_text
    toks = docs.select(
        "doc_id", "source",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"))
    bucket = F.pmod(F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
                    .cast("long"), F.lit(_DSIR_BUCKETS)).alias("bucket")
    # r10 (guide §5): the token stream feeds five readouts (both count
    # tables, both totals, the per-doc sum) — pin the narrow
    # (doc_id, source, bucket) rows so the normalize+tokenize+md5
    # pipeline runs once.
    tb = pin(toks.select("doc_id", "source", bucket))
    src_cnt = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("cs"))
    tgt_cnt = (tb.filter(F.col("source") == "src0")
               .groupBy("bucket").agg(F.count(F.lit(1)).alias("ct")))
    ns = tb.agg(F.count(F.lit(1)).alias("ns"))
    nt = (tb.filter(F.col("source") == "src0")
          .agg(F.count(F.lit(1)).alias("nt")))
    ratio = (src_cnt.join(tgt_cnt, "bucket", "left")
             .na.fill({"ct": 0})
             .crossJoin(F.broadcast(ns)).crossJoin(F.broadcast(nt))
             .select("bucket", F.round(
                 (F.log((F.col("ct") + 1.0)
                        / (F.col("nt") + float(_DSIR_BUCKETS)))
                  - F.log((F.col("cs") + 1.0)
                          / (F.col("ns") + float(_DSIR_BUCKETS))))
                 * 1e6).cast("long").alias("lrm")))
    per_doc = (tb.join(F.broadcast(ratio), "bucket")
               .groupBy("doc_id", "source")
               .agg(F.sum("lrm").alias("w_micro"),
                    F.count(F.lit(1)).alias("n_tok")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("w_micro").alias("sum_w_micro"),
                 F.sum("n_tok").alias("sum_tok"),
                 F.min("w_micro").alias("min_w_micro"),
                 F.max("w_micro").alias("max_w_micro"),
                 F.sum((F.col("w_micro") > 0).cast("long"))
                 .alias("n_target_leaning"))
            .select("source", "n_docs", "sum_w_micro", "sum_tok",
                    # length-normalized form: micro-log-ratio per 1000
                    # tokens — the cross-source comparable number (raw
                    # sums are dominated by doc length x smoothing bias
                    # when target ~= source)
                    # negative numerator: Spark div truncates, DuckDB
                    # // floors — use the shared double-floor form
                    # (sums are ~1e9 micro, far inside double exactness)
                    F.floor(F.col("sum_w_micro").cast("double") * 1000.0
                            / F.col("sum_tok").cast("double"))
                     .cast("long").alias("w_per_ktok"),
                    "min_w_micro", "max_w_micro", "n_target_leaning")
            .orderBy("source"))


DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS tok
  FROM documents),
tb AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
           % {_DSIR_BUCKETS} AS bucket
  FROM toks),
src_cnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cs
            FROM tb GROUP BY bucket),
tgt_cnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct
            FROM tb WHERE source = 'src0' GROUP BY bucket),
tot AS (SELECT CAST(count(*) AS BIGINT) AS ns,
               CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS nt
        FROM tb),
ratio AS (
  SELECT s.bucket,
         CAST(round((ln((COALESCE(ct, 0) + 1.0) / (nt + {_DSIR_BUCKETS}.0))
                     - ln((cs + 1.0) / (ns + {_DSIR_BUCKETS}.0))) * 1e6)
              AS BIGINT) AS lrm
  FROM src_cnt s LEFT JOIN tgt_cnt t ON s.bucket = t.bucket, tot),
per_doc AS (
  SELECT doc_id, source, CAST(sum(lrm) AS BIGINT) AS w_micro,
         CAST(count(*) AS BIGINT) AS n_tok
  FROM tb JOIN ratio USING (bucket)
  GROUP BY doc_id, source)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w_micro) AS BIGINT) AS sum_w_micro,
       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
       CAST(floor(CAST(sum(w_micro) AS DOUBLE) * 1000.0
                  / CAST(sum(n_tok) AS DOUBLE)) AS BIGINT) AS w_per_ktok,
       CAST(min(w_micro) AS BIGINT) AS min_w_micro,
       CAST(max(w_micro) AS BIGINT) AS max_w_micro,
       CAST(count(*) FILTER (WHERE w_micro > 0) AS BIGINT)
         AS n_target_leaning
FROM per_doc GROUP BY source ORDER BY source
"""

QUERIES["sample_dsir_importance"] = (sample_dsir_importance, DSIR_SQL)


# --- G-test of independence ----------------------------------------------

def stats_g_test(spark: SparkSession, sf: str) -> DataFrame:
    """Log-likelihood-ratio (G) test of independence on the source ×
    language contingency table — the chi-square twin that stays valid
    for small expected counts.  G = 2·Σ O·ln(O·N / (rowΣ·colΣ)); each
    cell's term is quantized to micro units before the integer sum
    (quantize-after-transcendental).  One count aggregate over a tiny
    cell domain; everything after is broadcast arithmetic."""
    docs = t(spark, sf, "documents")
    cells = (docs.groupBy("source", "lang")
             .agg(F.count(F.lit(1)).alias("o")))
    rows_t = cells.groupBy("source").agg(F.sum("o").alias("rt"))
    cols_t = cells.groupBy("lang").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"),
                  F.countDistinct("source").alias("r"),
                  F.countDistinct("lang").alias("c"))
    term = F.round(2.0 * F.col("o").cast("double")
                   * F.log(F.col("o").cast("double")
                           * F.col("n").cast("double")
                           / (F.col("rt").cast("double")
                              * F.col("ct").cast("double"))) * 1e6) \
        .cast("long")
    return (cells.join(F.broadcast(rows_t), "source")
            .join(F.broadcast(cols_t), "lang")
            .crossJoin(F.broadcast(n))
            .select("source", "lang", term.alias("_t"),
                    "n", "r", "c")
            .groupBy("n", "r", "c")
            .agg(F.sum("_t").alias("g_micro"),
                 F.count(F.lit(1)).alias("n_cells"))
            .select(F.col("n").alias("n_docs"),
                    F.col("r").alias("n_sources"),
                    F.col("c").alias("n_langs"),
                    ((F.col("r") - 1) * (F.col("c") - 1)).alias("df"),
                    "n_cells", "g_micro"))


G_TEST_SQL = """
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY source, lang),
rows_t AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt
           FROM cells GROUP BY source),
cols_t AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct
           FROM cells GROUP BY lang),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT source) AS BIGINT) AS r,
               CAST(count(DISTINCT lang) AS BIGINT) AS c
        FROM cells),
terms AS (
  SELECT n, r, c,
         CAST(round(2.0 * CAST(o AS DOUBLE)
                    * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                         / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
                    * 1e6) AS BIGINT) AS t
  FROM cells JOIN rows_t USING (source) JOIN cols_t USING (lang), tot)
SELECT n AS n_docs, r AS n_sources, c AS n_langs,
       (r - 1) * (c - 1) AS df,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(t) AS BIGINT) AS g_micro
FROM terms GROUP BY n, r, c
"""

QUERIES["stats_g_test"] = (stats_g_test, G_TEST_SQL)
