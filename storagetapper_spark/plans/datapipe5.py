"""Query batch: join-pruning and tokenizer/compliance operators,
round 5 second half — explicit Bloom-filter semi-join reduction, salted
skew join, PII redaction (the scrub that follows text_pii_flags'
detection), as-of join tolerance/direction variants (pandas
``merge_asof`` parity), and the BPE greedy merge step (the operator
between two pair-count rounds of tokenizer training).

Scale notes inline per query; the common theme is cutting shuffle bytes
before the wide op — Bloom bits before the fact-table shuffle, salting
to split hot reduce keys, per-document windows for the token streams.

Reference parity: storagetapper filters/routes rows by key hash at the
pipe layer (pipe/kafka.go key partitioning, shared/types.go row keys);
these queries re-express that hash-the-key primitive as scan-side
pruning and skew mitigation, plus the LLM-pipeline addendum operators
of SURVEY.md §2.7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.plans.common import t
from storagetapper_spark.plans.relational7 import (
    _EMAIL_RE,
    _IPV4_RE,
    _PHONE_RE,
)

_URGENT_MIN_PRICE = 150000.0
_ASOF_TOL_SEC = 86400  # 1-day staleness bound


def join_bloom_pruned(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue by return flag for lineitems of urgent high-value orders,
    with the lineitem side Bloom-pruned before the join
    (operators/bloom.bloom_prune_join).

    At 100 TB the filtered orders side is ~10⁷ keys — too big for an
    exact broadcast semi-join, but its 2¹⁶-bit Bloom bitmap (8 KiB)
    folds into the lineitem scan predicate and drops non-matching rows
    before the join shuffle.  The exact equi-join afterwards absorbs
    false positives, so the result is identical to the plain join the
    oracle runs."""
    from storagetapper_spark.operators.bloom import bloom_prune_join

    orders = (t(spark, sf, "orders")
              .filter((F.col("o_orderpriority") == "1-URGENT")
                      & (F.col("o_totalprice") > _URGENT_MIN_PRICE))
              .select("o_orderkey"))
    lineitem = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    joined = bloom_prune_join(lineitem, orders, "l_orderkey", "o_orderkey")
    return (joined.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 # exact 1e-4-dollar units, shared division (q1 idiom)
                 (F.sum(F.expr(
                      "CAST(round(l_extendedprice * 100) AS BIGINT)"
                      " * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
                  .cast("double") / 10000.0).alias("revenue"))
            .orderBy("l_returnflag"))


JOIN_BLOOM_PRUNED_SQL = f"""
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS DOUBLE) / 10000.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > {_URGENT_MIN_PRICE}
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def join_salted_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Event value by customer nation through an explicitly SALTED join
    (operators/skew.salted_join): events' user_id distribution is
    Zipf-ish, so the hot users' rows spread over 8 salted reducers
    instead of one straggler task.  The salt is deterministic (row
    hash), the customer side replicates 8× — the classic trade when the
    dim side is small relative to the hot key's row count.  Result is
    salt-invariant; the oracle runs the plain join."""
    from storagetapper_spark.operators.skew import salted_join

    ev = (t(spark, sf, "events")
          .select(F.col("user_id").alias("custkey"), "value"))
    cust = (t(spark, sf, "customer")
            .select(F.col("c_custkey").alias("custkey"), "c_nationkey"))
    joined = salted_join(ev, cust, "custkey", n_salts=8)
    return (joined.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 # exact cents sum + shared division (q1 idiom)
                 (F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
                  .cast("double") / 100.0).alias("total_value"))
            .orderBy("c_nationkey"))


JOIN_SALTED_SKEW_SQL = """
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def text_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """Typed PII redaction — the scrub step after text_pii_flags'
    detection: emails → <EMAIL>, IPv4 → <IP>, phones → <PHONE>, with
    the pre-redaction counts kept for the compliance audit trail.

    The fixture corpus is PII-free (text_pii_flags is all zero), so the
    input here is a contact card derived deterministically from the
    customer table — every row carries one of each PII kind, making the
    value hash a real witness of the replacements rather than a
    passthrough.  Pure regexp_replace chain (JVM, scan-parallel, no
    shuffle); replacement order is fixed (email, ip, phone) so both
    engines see identical intermediate strings."""
    cust = t(spark, sf, "customer")
    key = F.col("c_custkey").cast("long")
    contact = F.concat(
        F.lit("Reach "), F.col("c_name"),
        F.lit(" <user"), key, F.lit("@example.com> from 10.0."),
        (key % 256), F.lit("."), (key % 100),
        F.lit(" phone 555-"),
        F.lpad((key % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((key % 10000).cast("string"), 4, "0"))
    docs = cust.select(key.alias("contact_id"), contact.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _IPV4_RE, "<IP>"),
        _PHONE_RE, "<PHONE>")
    return docs.select(
        "contact_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_IPV4_RE)).alias("n_ipv4"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).alias("n_phones"),
        redacted.alias("text_redacted"),
    )


TEXT_PII_REDACT_SQL = f"""
WITH docs AS (
  SELECT CAST(c_custkey AS BIGINT) AS contact_id,
         'Reach ' || c_name || ' <user' || c_custkey
         || '@example.com> from 10.0.' || (c_custkey % 256) || '.'
         || (c_custkey % 100) || ' phone 555-'
         || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS text
  FROM customer
)
SELECT contact_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_IPV4_RE}')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_IPV4_RE}', '<IP>', 'g'),
         '{_PHONE_RE}', '<PHONE>', 'g') AS text_redacted
FROM docs
"""


def _rates(spark, sf):
    """Deduped purchase rates (one row per user×ts) — reused from the
    asof_state_at_event fixture shape (plans/timeseries._purchases)."""
    ev = t(spark, sf, "events")
    return (ev.filter(F.col("event_type") == "purchase")
              .groupBy("user_id", "ts")
              .agg(F.round(F.max("value"), 2).alias("rate")))


def asof_state_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """asof_state_at_event with a 1-day staleness bound (pandas
    merge_asof ``tolerance``): a purchase older than the bound at click
    time no longer represents live state and comes back NULL.  Same
    single-shuffle union-window plan — the bound is a post-fill mask on
    the carried match timestamp, zero extra exchanges
    (operators/asof.asof_join tolerance_sec)."""
    from storagetapper_spark.operators.asof import asof_join

    ev = t(spark, sf, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", "ts"))
    out = asof_join(clicks, _rates(spark, sf), by=["user_id"],
                    left_ts="ts", right_ts="ts", right_cols=["rate"],
                    tolerance_sec=_ASOF_TOL_SEC)
    return out.select("event_id", "user_id", "rate_asof")


ASOF_TOLERANCE_SQL = f"""
WITH rates AS (
  SELECT user_id, ts, round(max(value), 2) AS rate
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id,
       CASE WHEN epoch(c.ts) - epoch(r.ts) <= {_ASOF_TOL_SEC}
            THEN r.rate END AS rate_asof
FROM clicks c ASOF LEFT JOIN rates r
  ON c.user_id = r.user_id AND c.ts >= r.ts
"""


def asof_forward_next_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of: for every click, the user's NEXT purchase rate at
    or after click time — lookahead attribution ("did the click convert,
    and at what price?").  The same union-window plan as backward with
    the time order reversed (operators/asof.asof_join
    direction='forward'); still one shuffle on user_id."""
    from storagetapper_spark.operators.asof import asof_join

    ev = t(spark, sf, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", "ts"))
    out = asof_join(clicks, _rates(spark, sf), by=["user_id"],
                    left_ts="ts", right_ts="ts", right_cols=["rate"],
                    direction="forward", suffix="_next")
    return out.select("event_id", "user_id", "rate_next")


ASOF_FORWARD_SQL = """
WITH rates AS (
  SELECT user_id, ts, round(max(value), 2) AS rate
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id, arg_min(r.rate, r.ts) AS rate_next
FROM clicks c LEFT JOIN rates r
  ON c.user_id = r.user_id AND r.ts >= c.ts
GROUP BY c.event_id, c.user_id
"""


def tokenizer_bpe_merge_step(spark: SparkSession, sf: str) -> DataFrame:
    """One full BPE training step: take the corpus-wide top adjacent
    pair (tokenizer_pair_counts' winner), apply the merge to every
    document greedily left-to-right (operators/text.bpe_greedy_merge —
    gaps-and-islands over doc-partitioned windows), and return the
    post-merge top-30 pair table that would seed the next round.

    The top-pair collect is 1 row (bounded); since r10 the step rides
    the same array-per-document machinery as tokenizer_bpe_train
    (operators/text._bpe_train_loop, guide §4.2/§2.3): pair counts are
    per-batch Counters (only the tiny (pair, n) partials shuffle) and
    the greedy merge is a linear scan per document — the former
    gaps-and-islands form paid a doc-keyed exchange + sort for each of
    its four windows.  Iterating this step k times is the full
    tokenizer-training loop, each round touching the corpus once."""
    from storagetapper_spark.operators.text import (
        _bpe_train_loop,
        array_pair_counts,
    )

    docs = t(spark, sf, "documents").select("doc_id", "text")
    _, stream = _bpe_train_loop(docs, 1, "text", "doc_id")
    return (array_pair_counts(stream)
            .orderBy(F.desc("n"), "pair")
            .limit(30))


TOKENIZER_BPE_MERGE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
top AS (
  SELECT pair FROM (
    SELECT unnest([array_to_string(w[s:s + 1], ' ')
                   for s in generate_series(1, len(w) - 1)]) AS pair
    FROM toks WHERE len(w) >= 2)
  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1
),
xy AS (
  SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y
  FROM top
),
ex AS (
  SELECT doc_id, unnest(w) AS tok,
         unnest(generate_series(1, len(w))) AS i
  FROM toks
),
m AS (
  SELECT doc_id, i, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
  FROM ex
),
c AS (
  SELECT *, CASE WHEN tok = (SELECT x FROM xy)
                  AND nxt = (SELECT y FROM xy) THEN 1 ELSE 0 END AS cand
  FROM m
),
k AS (
  SELECT *, CASE WHEN cand = 1 THEN
         i - sum(cand) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) END AS ckey
  FROM c
),
s AS (
  SELECT *, cand = 1 AND (row_number() OVER
         (PARTITION BY doc_id, ckey ORDER BY i)) % 2 = 1 AS sel
  FROM k
),
f AS (
  SELECT doc_id, i,
         CASE WHEN sel THEN tok || nxt ELSE tok END AS tok2,
         lag(CASE WHEN sel THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i) AS prev_sel
  FROM s
),
kept AS (
  SELECT doc_id, i, tok2 FROM f WHERE coalesce(prev_sel, 0) = 0
),
p2 AS (
  SELECT tok2 || ' ' || lead(tok2) OVER (PARTITION BY doc_id ORDER BY i)
           AS pair
  FROM kept
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM p2 WHERE pair IS NOT NULL
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 30
"""


_HIST_BINS = 10


def profile_histograms(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histograms (10 bins) for the main numeric measures —
    the auto-profiling pass a warehouse runs on ingest
    (o_totalprice, l_quantity, events.value).  Per column: one min/max
    agg broadcast back, one binned count — bins computed in a single
    expression on identical doubles in both engines, so no boundary
    can flip."""
    def hist(df, tbl, col):
        mm = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
        width = (F.col("hi") - F.col("lo")) / _HIST_BINS
        bin_ = F.least(F.lit(_HIST_BINS - 1),
                       F.floor((F.col(col) - F.col("lo")) / width)) \
                .cast("long")
        return (df.crossJoin(F.broadcast(mm))
                .groupBy(bin_.alias("bin"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(tbl).alias("tbl"), F.lit(col).alias("col"),
                        "bin", "n"))
    o = hist(t(spark, sf, "orders").select("o_totalprice"),
             "orders", "o_totalprice")
    li = hist(t(spark, sf, "lineitem").select("l_quantity"),
              "lineitem", "l_quantity")
    ev = hist(t(spark, sf, "events").select("value"), "events", "value")
    return (o.unionByName(li).unionByName(ev)
            .orderBy("tbl", "col", "bin"))


PROFILE_HISTOGRAMS_SQL = f"""
WITH o AS (
  SELECT 'orders' AS tbl, 'o_totalprice' AS col,
         CAST(least({_HIST_BINS - 1},
              floor((o_totalprice - mm.lo) / ((mm.hi - mm.lo)
                    / {_HIST_BINS}))) AS BIGINT) AS bin
  FROM orders, (SELECT min(o_totalprice) lo, max(o_totalprice) hi
                FROM orders) mm
),
li AS (
  SELECT 'lineitem', 'l_quantity',
         CAST(least({_HIST_BINS - 1},
              floor((l_quantity - mm.lo) / ((mm.hi - mm.lo)
                    / {_HIST_BINS}))) AS BIGINT)
  FROM lineitem, (SELECT min(l_quantity) lo, max(l_quantity) hi
                  FROM lineitem) mm
),
ev AS (
  SELECT 'events', 'value',
         CAST(least({_HIST_BINS - 1},
              floor((value - mm.lo) / ((mm.hi - mm.lo)
                    / {_HIST_BINS}))) AS BIGINT)
  FROM events, (SELECT min(value) lo, max(value) hi FROM events) mm
),
u AS (SELECT * FROM o UNION ALL SELECT * FROM li UNION ALL
      SELECT * FROM ev)
SELECT tbl, col, bin, CAST(count(*) AS BIGINT) AS n
FROM u GROUP BY tbl, col, bin
ORDER BY tbl, col, bin
"""


_DRAW_BUDGET = 200
_DRAW_ALPHA = 0.3


def sample_temperature_draw(spark: SparkSession, sf: str) -> DataFrame:
    """The action form of sample_temperature_mix: compute per-source
    temperature quotas (p^α/Z of a 200-doc budget) and actually DRAW
    that many docs per source, deterministically (md5 order within
    source).  Two broadcast-sized aggs for the quota table, one
    source-partitioned rank window for the draw — the end-to-end
    mixing → selection composition a multi-source pretraining run
    executes."""
    from pyspark.sql import Window

    docs = t(spark, sf, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum(F.pow(F.col("n_docs"), F.lit(_DRAW_ALPHA)))
                     .alias("z"))
    quotas = (counts.crossJoin(F.broadcast(tot))
              .select("source",
                      F.round(F.lit(_DRAW_BUDGET)
                              * F.pow(F.col("n_docs"), F.lit(_DRAW_ALPHA))
                              / F.col("z"), 0).cast("long").alias("quota")))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = docs.withColumn("rk", F.row_number().over(w))
    return (ranked.join(F.broadcast(quotas), "source")
            .filter(F.col("rk") <= F.col("quota"))
            .select("source", "doc_id", F.col("rk").cast("long").alias("rk"))
            .orderBy("source", "rk"))


SAMPLE_TEMPERATURE_DRAW_SQL = f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT sum(pow(n_docs, {_DRAW_ALPHA})) AS z FROM counts),
quotas AS (
  SELECT source,
         CAST(round({_DRAW_BUDGET} * pow(n_docs, {_DRAW_ALPHA}) / t.z, 0)
              AS BIGINT) AS quota
  FROM counts, tot t
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT r.source, r.doc_id, CAST(r.rk AS BIGINT) AS rk
FROM ranked r JOIN quotas q USING (source)
WHERE r.rk <= q.quota
ORDER BY r.source, r.rk
"""


_AES_K = 200


def sample_weighted_aes(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis exponential keys): select the 200 docs with
    smallest key = -ln(u)/w, u a content-derived uniform in (0,1],
    w = n_chars (the quality-weighted corpus draw).  Reproducible —
    u comes from md5(doc_id), not an RNG — and embarrassingly
    parallel: per-row key expression + one global top-k
    (TakeOrderedAndProject), no shuffle beyond it.

    Exactness: u = (md5-52-bit-int + 1) / 2⁵² is an exact double in
    both engines; one ln and one division on identical doubles →
    identical keys; the key ships as floor(key·10⁹)."""
    docs = t(spark, sf, "documents")
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
                 16, 10).cast("double") + 1.0) / F.lit(float(1 << 52)))
    w = F.col("n_chars").cast("double")
    key = -F.log(u) / w
    return (docs.select("doc_id",
                        F.col("n_chars").cast("long").alias("weight"),
                        F.floor(key * 1e9).cast("long").alias("key_nano"))
            .orderBy("key_nano", "doc_id")
            .limit(_AES_K))


SAMPLE_WEIGHTED_AES_SQL = f"""
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
       CAST(floor(-ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                          1, 13))::BIGINT + 1.0)
                      / {float(1 << 52)})
                  / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT) AS key_nano
FROM documents
ORDER BY key_nano, doc_id
LIMIT {_AES_K}
"""


def corpus_source_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus dashboard: volume, token mass, exact-dup rate,
    and English share — the readout that drives per-source mixing and
    cleanup decisions.  One scan computes the narrow stats; the dup
    rate rides a (source, content-hash) distinct count — still
    map-side combinable.  Rates ship as integer micro-units (the
    session's rounding-boundary rule)."""
    docs = t(spark, sf, "documents")
    per_doc = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks"),
        (F.col("lang") == "en").cast("long").alias("is_en"),
        F.md5("text").alias("h"))
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum("is_en").alias("n_en"))
    return (agg.select(
        "source", "n_docs", "n_unique", "total_tokens",
        F.floor((F.col("n_docs") - F.col("n_unique")) * 1000000.0
                / F.col("n_docs")).cast("long").alias("dup_rate_micro"),
        F.floor(F.col("n_en") * 1000000.0 / F.col("n_docs")).cast("long")
         .alias("en_share_micro"))
        .orderBy("source"))


CORPUS_SOURCE_REPORT_SQL = """
WITH per_doc AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
         md5(text) AS h
  FROM documents
),
agg AS (
  SELECT source, count(*) AS n_docs, count(DISTINCT h) AS n_unique,
         sum(n_toks) AS total_tokens, sum(is_en) AS n_en
  FROM per_doc GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_unique AS BIGINT) AS n_unique,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(floor((n_docs - n_unique) * 1000000.0 / n_docs) AS BIGINT)
         AS dup_rate_micro,
       CAST(floor(n_en * 1000000.0 / n_docs) AS BIGINT) AS en_share_micro
FROM agg
ORDER BY source
"""


_SKEW_TOP = 20


def profile_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Join/agg-key skew profiler — the diagnostic that decides whether
    a key needs salting (operators/skew) or AQE can handle it: top-20
    hottest events.user_id keys with their share of total rows and the
    hot/average multiplier (the n_salts sizing input).  One
    map-side-combined count + a broadcast totals join + top-k —
    the profile itself never shuffles more than (distinct keys) rows."""
    ev = t(spark, sf, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = counts.agg(F.sum("n_rows").alias("total"),
                     F.count(F.lit(1)).alias("n_keys"))
    return (counts.crossJoin(F.broadcast(tot))
            .select("user_id",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.round(F.col("n_rows") / F.col("total"), 6)
                     .alias("share"),
                    # floor of x100, not round-2dp: hot keys land on
                    # exact .xx5 boundaries where engine rounding modes
                    # diverge (observed 1.28 vs 1.27); the floored
                    # integer is one IEEE division then floor — stable
                    F.floor(F.col("n_rows") * F.col("n_keys") * 100.0
                            / F.col("total")).cast("long")
                     .alias("hot_factor_x100"))
            .orderBy(F.desc("n_rows"), "user_id")
            .limit(_SKEW_TOP))


PROFILE_KEY_SKEW_SQL = f"""
WITH counts AS (
  SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
),
tot AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM counts)
SELECT user_id, CAST(n_rows AS BIGINT) AS n_rows,
       round(n_rows / t.total, 6) AS share,
       CAST(floor(n_rows * t.n_keys * 100.0 / t.total) AS BIGINT)
         AS hot_factor_x100
FROM counts, tot t
ORDER BY n_rows DESC, user_id
LIMIT {_SKEW_TOP}
"""


def lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the accuracy
    report for the lang-ID heuristic (and the mislabeled-metadata
    detector for the corpus): one narrow scoring pass + one
    two-key count.  Reuses operators/text.lang_id and the portable
    marker-count oracle of text_lang_id."""
    from storagetapper_spark.operators import text as X

    docs = t(spark, sf, "documents")
    return (docs.select("lang", X.lang_id(F.col("text")).alias("pred_lang"))
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang", "pred_lang"))


def _lang_confusion_sql() -> str:
    from storagetapper_spark.plans.datapipe import _lang_sql

    return f"""
WITH pred AS ({_lang_sql()})
SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM pred
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""


def dq_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ/Great-Expectations-style validation suite: declarative
    rules over the warehouse, one row per rule with checked/violation
    counts — the content half of the reference's watchdog (liveness
    lives in streaming/monitor.py; referential integrity in
    integrity_audit).  Every rule is a single-scan conditional agg;
    uniqueness rules are one groupBy each — nothing is per-rule
    rescanned within a table."""
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    c = t(spark, sf, "customer")

    def _agg(df, rule, cond):
        return df.agg(
            F.lit(rule).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(~cond, 1).otherwise(0)).cast("long")
             .alias("n_violations"))

    dup_o = (o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("k"))
             .agg(F.lit("orders.o_orderkey unique").alias("rule"),
                  F.count(F.lit(1)).alias("n_checked"),
                  F.sum(F.when(F.col("k") > 1, 1).otherwise(0))
                   .cast("long").alias("n_violations")))
    dup_li = (li.groupBy("l_orderkey", "l_linenumber")
              .agg(F.count(F.lit(1)).alias("k"))
              .agg(F.lit("lineitem.(orderkey,linenumber) unique")
                    .alias("rule"),
                   F.count(F.lit(1)).alias("n_checked"),
                   F.sum(F.when(F.col("k") > 1, 1).otherwise(0))
                    .cast("long").alias("n_violations")))
    # r10 (guide §1.2): the three lineitem row-rules ride ONE scan — a
    # single conditional agg computes all three violation counts (the
    # shared count is identical), stacked back to one row per rule;
    # before, each rule re-scanned lineitem.
    li_conds = [
        ("lineitem.l_discount in [0,1]",
         (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1)),
        ("lineitem.l_quantity in [1,50]",
         (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50)),
        ("lineitem.l_shipdate not null", F.col("l_shipdate").isNotNull()),
    ]
    li_rules = (li.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.when(~cond, 1).otherwise(0)).cast("long")
          .alias(f"v{i}") for i, (_, cond) in enumerate(li_conds)])
        .selectExpr(
            "stack(3, " + ", ".join(
                f"'{rule}', n, v{i}" for i, (rule, _) in enumerate(li_conds))
            + ") AS (rule, n_checked, n_violations)"))
    rules = [
        _agg(o, "orders.o_totalprice positive", F.col("o_totalprice") > 0),
        li_rules,
        _agg(c, "customer.c_name not null", F.col("c_name").isNotNull()),
        dup_o, dup_li,
    ]
    out = rules[0]
    for r in rules[1:]:
        out = out.unionByName(r)
    return out.select("rule", "n_checked", "n_violations",
                      (F.col("n_violations") == 0).alias("passed")) \
              .orderBy("rule")


DQ_EXPECTATIONS_SQL = """
WITH rows_out AS (
  SELECT 'orders.o_totalprice positive' AS rule,
         count(*) AS n_checked,
         sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
           AS n_violations
  FROM orders
  UNION ALL
  SELECT 'lineitem.l_discount in [0,1]', count(*),
         sum(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 1)
             THEN 1 ELSE 0 END)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_quantity in [1,50]', count(*),
         sum(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50)
             THEN 1 ELSE 0 END)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_shipdate not null', count(*),
         sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
  FROM lineitem
  UNION ALL
  SELECT 'customer.c_name not null', count(*),
         sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
  FROM customer
  UNION ALL
  SELECT 'orders.o_orderkey unique', count(*),
         sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)
  FROM (SELECT count(*) AS k FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'lineitem.(orderkey,linenumber) unique', count(*),
         sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)
  FROM (SELECT count(*) AS k FROM lineitem
        GROUP BY l_orderkey, l_linenumber)
)
SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM rows_out
ORDER BY rule
"""


_TR_QUERIES, _TR_K, _TR_DIM = 5, 10, 16


def ann_truncation_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-style truncation audit: retrieve top-k by cosine with
    FULL 64-dim embeddings and with the first-16-dim PREFIX (4× memory
    cut — the standard MRL serving trade), and report per-query recall
    overlap.  The int8 twin is ann_quantized_recall; together they are
    the two compression audits a 100 TB vector corpus runs before
    committing to a storage format.  Same broadcast-queries /
    corpus-never-shuffles shape as ann_brute_force."""
    from pyspark.sql import Window

    from storagetapper_spark.operators.similarity import cosine

    emb = t(spark, sf, "embeddings")
    both = emb.select(
        "vec_id", "embedding",
        F.slice(F.col("embedding"), 1, _TR_DIM).alias("tv"))
    qs = (both.filter(F.col("vec_id") < _TR_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("q_emb"),
                  F.col("tv").alias("q_tv")))
    corpus = both.filter(F.col("vec_id") >= _TR_QUERIES)
    scored = (corpus.crossJoin(F.broadcast(qs))
              .select("query_id", "vec_id",
                      F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
                       .alias("sim_f"),
                      F.round(cosine(F.col("tv"), F.col("q_tv")), 6)
                       .alias("sim_t")))
    wf = (Window.partitionBy("query_id")
          .orderBy(F.col("sim_f").desc(), F.col("vec_id").asc()))
    wt = (Window.partitionBy("query_id")
          .orderBy(F.col("sim_t").desc(), F.col("vec_id").asc()))
    topf = (scored.withColumn("r", F.row_number().over(wf))
            .filter(F.col("r") <= _TR_K).select("query_id", "vec_id"))
    topt = (scored.withColumn("r", F.row_number().over(wt))
            .filter(F.col("r") <= _TR_K).select("query_id", "vec_id"))
    # left join from the query set so zero-overlap queries report 0.0
    overlap = (topf.join(topt, ["query_id", "vec_id"])
               .groupBy("query_id")
               .agg(F.count(F.lit(1)).alias("n_common")))
    return (qs.select("query_id").join(overlap, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_common"), F.lit(0)).cast("long")
                     .alias("n_common"))
            .select("query_id", "n_common",
                    F.round(F.col("n_common") / float(_TR_K), 2)
                     .alias("recall"))
            .orderBy("query_id"))


def _tr_cos(a: str, b: str) -> str:
    return (f"round(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b}))), 6)")


TRUNCATION_RECALL_SQL = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv,
         CAST(embedding[1:{_TR_DIM}] AS DOUBLE[]) AS tv
  FROM embeddings),
q AS (SELECT vec_id AS query_id, fv AS q_fv, tv AS q_tv
      FROM base WHERE vec_id < {_TR_QUERIES}),
c AS (SELECT vec_id, fv, tv FROM base WHERE vec_id >= {_TR_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id,
         {_tr_cos('c.fv', 'q.q_fv')} AS sim_f,
         {_tr_cos('c.tv', 'q.q_tv')} AS sim_t
  FROM c CROSS JOIN q),
topf AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_f DESC, vec_id) AS r
    FROM scored) WHERE r <= {_TR_K}),
topt AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_t DESC, vec_id) AS r
    FROM scored) WHERE r <= {_TR_K})
, overlap AS (
  SELECT topf.query_id, CAST(count(*) AS BIGINT) AS n_common
  FROM topf JOIN topt USING (query_id, vec_id)
  GROUP BY topf.query_id)
SELECT q.query_id,
       CAST(coalesce(o.n_common, 0) AS BIGINT) AS n_common,
       round(coalesce(o.n_common, 0) / {float(_TR_K)}, 2) AS recall
FROM q LEFT JOIN overlap o USING (query_id)
ORDER BY q.query_id
"""


_PACK_WINDOW = 2048   # context window (tokens)
_PACK_SHARDS = 16     # cumsum partitions (the two-pass sweep pattern)


def sample_pack_contiguous(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style contiguous sequence packing manifest: documents are
    concatenated in a deterministic md5-shuffled order and split at
    exact 2048-token boundaries (docs straddle windows — the standard
    pretraining packing, unlike the bin-packing FFD twin
    sample_pack_sequences).  Output: each doc's global start offset and
    the first/last window it lands in.

    The global running sum is NOT one unpartitioned window: docs are
    md5-sharded, each shard computes a local cumsum, and the 16
    shard totals cascade into per-shard offsets via a window over 16
    rows — the two-pass sweep pattern (peak_concurrency), so partition
    state stays bounded at any corpus size
    (operators/sampling.pack_contiguous)."""
    from storagetapper_spark.operators.sampling import pack_contiguous

    docs = t(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"))
    return pack_contiguous(docs, window=_PACK_WINDOW,
                           shards=_PACK_SHARDS).orderBy("doc_id")


SAMPLE_PACK_CONTIGUOUS_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS ord_key,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
           % {_PACK_SHARDS} AS shard
  FROM documents
),
placed AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY shard, ord_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_token
  FROM docs
)
SELECT doc_id, n_tokens, CAST(start_token AS BIGINT) AS start_token,
       CAST(floor(start_token / {_PACK_WINDOW}) AS BIGINT) AS first_window,
       CAST(floor((start_token + n_tokens - 1) / {_PACK_WINDOW}) AS BIGINT)
         AS last_window
FROM placed
ORDER BY doc_id
"""


def curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stage attrition report for the curation cascade — the
    first dashboard every training-data pipeline ships: how many docs
    survive each successive filter (total → lang → length floor →
    exact-dedup keeper).

    One corpus scan computes all stage flags as columns (cheap filters
    as expressions, the dedup stage as one content-hash agg joined
    back), then a single aggregate emits every stage count — NOT one
    scan per stage, so the report costs the same as the strictest
    filter alone.  stack() unpivots the 1×4 aggregate row."""
    docs = t(spark, sf, "documents")
    keepers = (docs.groupBy(F.md5("text").alias("h"))
               .agg(F.min("doc_id").alias("keeper_id")))
    flagged = (docs
               .withColumn("h", F.md5("text"))
               .join(F.broadcast(keepers), "h")
               .select(
                   (F.col("lang") == "en").alias("s1"),
                   (F.size(F.split(F.col("text"), " ")) >= 10).alias("s2"),
                   (F.col("doc_id") == F.col("keeper_id")).alias("s3")))
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("s1").cast("long")).alias("n1"),
        F.sum((F.col("s1") & F.col("s2")).cast("long")).alias("n2"),
        F.sum((F.col("s1") & F.col("s2") & F.col("s3")).cast("long"))
         .alias("n3"))
    return agg.select(F.expr(
        "stack(4, 1, 'total', n0, 2, 'lang_en', n1, "
        "3, 'min_10_tokens', n2, 4, 'dedup_keeper', n3) "
        "AS (stage, label, n_docs)"))


CURATION_FUNNEL_SQL = """
WITH keepers AS (
  SELECT md5(text) AS h, min(doc_id) AS keeper_id FROM documents GROUP BY 1
),
flagged AS (
  SELECT d.lang = 'en' AS s1,
         len(string_split(d.text, ' ')) >= 10 AS s2,
         d.doc_id = k.keeper_id AS s3
  FROM documents d JOIN keepers k ON md5(d.text) = k.h
),
agg AS (
  SELECT count(*) AS n0,
         sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END) AS n3
  FROM flagged
)
SELECT stage, label, CAST(n_docs AS BIGINT) AS n_docs
FROM (
  SELECT 1 AS stage, 'total' AS label, n0 AS n_docs FROM agg
  UNION ALL SELECT 2, 'lang_en', n1 FROM agg
  UNION ALL SELECT 3, 'min_10_tokens', n2 FROM agg
  UNION ALL SELECT 4, 'dedup_keeper', n3 FROM agg
)
ORDER BY stage
"""


_DSIR_B = 64  # hashed-unigram feature buckets


def sample_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023): per-document log importance = Σ_tokens
    log(p_target(bucket) / p_raw(bucket)) over hashed-unigram buckets,
    with Laplace smoothing; target domain = lang='en' docs.

    Scale shape: one tokenize+explode pass, two B-bounded bucket
    counts (map-side combined), a 64-row broadcast ratio join, one
    doc-keyed agg.  The per-doc sum runs in DECIMAL(18,6) so float
    association order across partitions can't move the hash — the
    log-ratio rounds to 6dp once, then sums exactly.  Portable bucket
    hash: md5-prefix → int (the minhash/simhash idiom), identical in
    DuckDB."""
    docs = t(spark, sf, "documents").select("doc_id", "lang", "text")
    bucket = (F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
              .cast("long") % _DSIR_B).alias("bucket")
    # r10: a shared (doc, lang, bucket) pre-aggregate feeding all four
    # readouts was tried and REVERTED — interleaved A/B at sf0.1
    # measured 2.2s (this form) vs 3.1s (shared, no persist) vs 18s
    # (shared + persist): the pre-aggregate is near-token-grained, so
    # its full-size shuffle (or cache) costs more than the repeated
    # map-side-combined passes it saves.
    ex = (docs.select("doc_id", "lang",
                      F.explode(F.split(F.col("text"), " ")).alias("tok"))
          .select("doc_id", "lang", bucket))
    raw = ex.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_raw"))
    tgt = (ex.filter(F.col("lang") == "en")
           .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tgt")))
    tot = ex.agg(
        F.count(F.lit(1)).alias("t_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_tgt"))
    ratio = (raw.join(tgt, "bucket", "left")
             .crossJoin(F.broadcast(tot))
             .select("bucket",
                     F.round(F.log(
                         ((F.coalesce(F.col("n_tgt"), F.lit(0)) + 1.0)
                          / (F.col("t_tgt") + _DSIR_B))
                         / ((F.col("n_raw") + 1.0)
                            / (F.col("t_raw") + _DSIR_B))), 6)
                      .cast("decimal(18,6)").alias("log_ratio")))
    # the weight leaves the engine as exact integer MICRO-log units:
    # a final round-to-double sits on half-rounding boundaries
    # (observed: 5/5000 docs off by 1 at the 4th dp between engines),
    # and raw DECIMAL output trips pandas dtype divergence — ×10⁶ of a
    # scale-6 decimal is an exact integer on both sides
    return (ex.join(F.broadcast(ratio), "bucket")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_toks"),
                 (F.sum("log_ratio") * 1000000).cast("long")
                  .alias("weight_micro"))
            .orderBy("doc_id"))


SAMPLE_IMPORTANCE_SQL = f"""
WITH ex AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5(tok), 1, 15))::BIGINT % {_DSIR_B} AS bucket
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
),
raw AS (SELECT bucket, count(*) AS n_raw FROM ex GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS n_tgt FROM ex WHERE lang = 'en'
        GROUP BY bucket),
tot AS (SELECT count(*) AS t_raw,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_tgt
        FROM ex),
ratio AS (
  SELECT r.bucket,
         CAST(round(ln(((coalesce(g.n_tgt, 0) + 1.0)
                        / (t.t_tgt + {_DSIR_B}))
                       / ((r.n_raw + 1.0) / (t.t_raw + {_DSIR_B}))), 6)
              AS DECIMAL(18,6)) AS log_ratio
  FROM raw r LEFT JOIN tgt g USING (bucket), tot t
)
SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(x.log_ratio) * 1000000 AS BIGINT) AS weight_micro
FROM ex e JOIN ratio x USING (bucket)
GROUP BY e.doc_id
ORDER BY e.doc_id
"""


_BPE_ROUNDS = 3


def tokenizer_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Full (small-k) BPE tokenizer training: 3 rounds of count-top-pair
    → greedy-merge-everywhere, returning the merge table the tokenizer
    would ship (operators/text.bpe_train).

    Iterative-with-exact-oracle: the DuckDB oracle unrolls the same 3
    rounds as nested CTEs (top-pair selection is a deterministic scalar
    subquery per round), so even the loop's data-dependent choices are
    hash-checked.  Spark side runs on the operators/pin.iterate ladder
    — one checkpointed generation per round, positions renumbered so the
    gaps-and-islands greedy merge stays correct on round ≥ 2."""
    from storagetapper_spark.operators.text import bpe_train

    docs = t(spark, sf, "documents").select("doc_id", "text")
    return bpe_train(docs, rounds=_BPE_ROUNDS).orderBy("round")


def tokenizer_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """The inference side of BPE: per-document token counts before and
    after the 3 trained merges — the compression the tokenizer buys
    (operators/text.bpe_encode_stats).  Same unrolled-CTE oracle chain
    as tokenizer_bpe_train with a per-doc count join as the tail."""
    from storagetapper_spark.operators.text import bpe_encode_stats

    docs = t(spark, sf, "documents").select("doc_id", "text")
    return bpe_encode_stats(docs, rounds=_BPE_ROUNDS).orderBy("doc_id")


def _bpe_ctes(rounds: int) -> list[str]:
    """Unroll k training rounds as CTE generations: s{r} is the token
    stream after r merges (renumbered), t{r} the r-th chosen pair."""
    ctes = ["""s0 AS (
  SELECT doc_id, unnest(w) AS tok,
         unnest(generate_series(1, len(w))) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""t{r} AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY i)
          AS pair FROM s{p})
  WHERE pair IS NOT NULL
  GROUP BY pair ORDER BY n DESC, pair LIMIT 1
),
c{r} AS (
  SELECT doc_id, i, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
  FROM s{p}
),
d{r} AS (
  SELECT *, CASE WHEN tok = (SELECT string_split(pair, ' ')[1] FROM t{r})
                  AND nxt = (SELECT string_split(pair, ' ')[2] FROM t{r})
                 THEN 1 ELSE 0 END AS cand
  FROM c{r}
),
k{r} AS (
  SELECT *, CASE WHEN cand = 1 THEN
         i - sum(cand) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) END AS ckey
  FROM d{r}
),
e{r} AS (
  SELECT *, cand = 1 AND (row_number() OVER
         (PARTITION BY doc_id, ckey ORDER BY i)) % 2 = 1 AS sel
  FROM k{r}
),
f{r} AS (
  SELECT doc_id, i,
         CASE WHEN sel THEN tok || nxt ELSE tok END AS tok,
         lag(CASE WHEN sel THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i) AS prev_sel
  FROM e{r}
),
s{r} AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i,
         tok
  FROM f{r} WHERE coalesce(prev_sel, 0) = 0
)""")
    return ctes


def _bpe_train_sql(rounds: int = _BPE_ROUNDS) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pair, n FROM t{r}"
        for r in range(1, rounds + 1))
    return ("WITH " + ",\n".join(_bpe_ctes(rounds))
            + f"\n{union}\nORDER BY round")


def _bpe_encode_sql(rounds: int = _BPE_ROUNDS) -> str:
    return ("WITH " + ",\n".join(_bpe_ctes(rounds)) + f"""
SELECT b.doc_id, b.n_before, a.n_after, b.n_before - a.n_after AS saved
FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        AS n_before FROM documents) b
JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after
      FROM s{rounds} GROUP BY doc_id) a USING (doc_id)
ORDER BY doc_id""")


QUERIES = {
    "join_bloom_pruned": (join_bloom_pruned, JOIN_BLOOM_PRUNED_SQL),
    "join_salted_skew": (join_salted_skew, JOIN_SALTED_SKEW_SQL),
    "text_pii_redact": (text_pii_redact, TEXT_PII_REDACT_SQL),
    "asof_state_tolerance": (asof_state_tolerance, ASOF_TOLERANCE_SQL),
    "asof_forward_next_purchase": (asof_forward_next_purchase,
                                   ASOF_FORWARD_SQL),
    "tokenizer_bpe_merge_step": (tokenizer_bpe_merge_step,
                                 TOKENIZER_BPE_MERGE_SQL),
    "tokenizer_bpe_train": (tokenizer_bpe_train, _bpe_train_sql()),
    "tokenizer_bpe_encode": (tokenizer_bpe_encode, _bpe_encode_sql()),
    "sample_importance_weights": (sample_importance_weights,
                                  SAMPLE_IMPORTANCE_SQL),
    "curation_funnel": (curation_funnel, CURATION_FUNNEL_SQL),
    "sample_pack_contiguous": (sample_pack_contiguous,
                               SAMPLE_PACK_CONTIGUOUS_SQL),
    "ann_truncation_recall": (ann_truncation_recall, TRUNCATION_RECALL_SQL),
    "lang_confusion": (lang_confusion, _lang_confusion_sql()),
    "dq_expectations": (dq_expectations, DQ_EXPECTATIONS_SQL),
    "profile_key_skew": (profile_key_skew, PROFILE_KEY_SKEW_SQL),
    "corpus_source_report": (corpus_source_report, CORPUS_SOURCE_REPORT_SQL),
    "sample_weighted_aes": (sample_weighted_aes, SAMPLE_WEIGHTED_AES_SQL),
    "sample_temperature_draw": (sample_temperature_draw,
                                SAMPLE_TEMPERATURE_DRAW_SQL),
    "profile_histograms": (profile_histograms, PROFILE_HISTOGRAMS_SQL),
}
