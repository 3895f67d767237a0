"""Training-data pipeline batch 13: streaming-ops planning, model
calibration, and recommender evaluation —

  - events_watermark_planner: the out-of-orderness audit that picks a
    Structured Streaming watermark delay (what share of events a given
    delay would drop), with the global running max computed TWO-PHASE
    (range buckets + broadcast offsets), never one giant ordered scan;
  - ml_isotonic_calibration: pool-adjacent-violators isotonic
    regression over a score grid, ALL-INTEGER (violations compared by
    cross-multiplication, never a float mean), oracle'd by a recursive
    CTE that replays the same first-violation merge order;
  - recsys_coverage_diversity: catalog coverage + intra-list
    similarity of the item-item top-k — the standard beyond-accuracy
    recommender eval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t

QUERIES: dict = {}

#: candidate watermark delays (seconds) — the planner's sweep grid
_WM_DELAYS = (60, 300, 900, 3600, 21600)
_WM_BUCKETS = 256
_ISO_BINS = 100
_RECS_K = 5


# --- watermark planner ----------------------------------------------------

def events_watermark_planner(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark-delay planning: an event's LATENESS is how far the
    stream's high-water mark (running max event time in arrival order
    = event_id) had already passed it on arrival; a watermark delay D
    drops exactly the events with lateness > D
    (Structured Streaming's withWatermark contract).  The sweep grid
    reports the drop count/share per candidate delay.

    100 TB shape: the arrival axis is range-bucketed into <=256
    chunks; per-chunk running maxima are windows partitioned by chunk,
    and the cross-chunk carry is a broadcast 256-row offset table
    (prefix max over chunk maxima) — the same two-phase decomposition
    as sample_pps_systematic's prefix sum, so no single task ever
    orders the raw stream."""
    ev = (t(spark, sf, "events")
          .select("event_id", F.unix_micros("ts").alias("e")))
    mx = ev.agg(F.max("event_id").alias("mid"))
    bkt = F.expr(f"event_id div greatest(1, mid div {_WM_BUCKETS} + 1)")
    ev2 = ev.crossJoin(F.broadcast(mx)).select(
        "event_id", "e", bkt.alias("bkt"))
    bmax = ev2.groupBy("bkt").agg(F.max("e").alias("bm"))
    # <=257-row offset table: prefix max over chunk maxima (bounded
    # domain — _BOUNDED_DOMAIN_ALLOWLIST entry)
    woff = (Window.orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1))
    off = bmax.select("bkt", F.max("bm").over(woff).alias("prev_max"))
    wloc = (Window.partitionBy("bkt").orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, 0))
    run = (ev2.withColumn("lm", F.max("e").over(wloc))
           .join(F.broadcast(off), "bkt")
           .select((F.greatest(F.col("lm"),
                               F.coalesce(F.col("prev_max"),
                                          F.lit(-(2 ** 62))))
                    - F.col("e")).alias("late_us")))
    aggs = [F.count(F.lit(1)).alias("n_events"),
            F.max("late_us").alias("max_late_us"),
            F.sum((F.col("late_us") > 0).cast("long")).alias("n_late_any")]
    for d in _WM_DELAYS:
        aggs.append(F.sum((F.col("late_us") > d * 1_000_000).cast("long"))
                    .alias(f"n_dropped_{d}s"))
    out = run.agg(*aggs)
    proj = ["n_events", "max_late_us", "n_late_any"]
    for d in _WM_DELAYS:
        proj.append(f"n_dropped_{d}s")
        out = out.withColumn(
            f"drop_ppm_{d}s",
            F.expr(f"n_dropped_{d}s * 1000000 div n_events"))
    return out.select(*proj, *[f"drop_ppm_{d}s" for d in _WM_DELAYS])


def _wm_sql() -> str:
    drops = ",\n       ".join(
        f"CAST(count(*) FILTER (WHERE late_us > {d}::BIGINT * 1000000) "
        f"AS BIGINT) AS n_dropped_{d}s" for d in _WM_DELAYS)
    ppms = ",\n       ".join(
        f"CAST(count(*) FILTER (WHERE late_us > {d}::BIGINT * 1000000) "
        f"* 1000000 // count(*) AS BIGINT) AS drop_ppm_{d}s"
        for d in _WM_DELAYS)
    return f"""
WITH e AS (SELECT event_id, epoch_us(ts) AS e FROM events),
r AS (
  SELECT e,
         max(e) OVER (ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - e AS late_us
  FROM e)
SELECT CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(late_us) AS BIGINT) AS max_late_us,
       CAST(count(*) FILTER (WHERE late_us > 0) AS BIGINT) AS n_late_any,
       {drops},
       {ppms}
FROM r
"""


QUERIES["events_watermark_planner"] = (events_watermark_planner, _wm_sql())


# --- isotonic calibration (PAVA) -----------------------------------------

def ml_isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic regression of label rate on an embedding-score grid via
    pool-adjacent-violators: bin scores into 100 equal-width bins
    (distributed aggregate), then merge the FIRST adjacent violating
    pair until monotone.  ALL arithmetic is integer — a violation is
    pos_i * n_(i+1) > pos_(i+1) * n_i (cross-multiplied), so both
    engines replay the identical merge sequence with zero float drift.

    Scale: the raw scan reduces to <= 100 grid rows; PAVA itself runs
    on that bounded grid driver-side (the k/grid-bounded collect
    idiom, like ml_conformal_split) — at 100 TB the heavy part stays
    the one map-side-combined binning aggregate."""
    emb = t(spark, sf, "embeddings")
    v = (F.floor(F.element_at("embedding", 1).cast("double") * 1e6)
         .cast("long"))
    y = (F.col("label") == 1).cast("long")
    # r10 (guide §5): sc feeds the min/max pass and the binning agg —
    # pin the narrow (v, y) projection so embeddings scan once.
    sc = pin(emb.select(v.alias("v"), y.alias("y")))
    mm = sc.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    binned = (sc.crossJoin(F.broadcast(mm))
              .select(F.expr(f"(v - mn) * {_ISO_BINS} div (mx - mn + 1)")
                      .alias("bin"), "y")
              .groupBy("bin")
              .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
              .orderBy("bin"))
    grid = binned.collect()  # <= _ISO_BINS rows — grid-bounded
    blocks = [[int(r.bin), int(r.bin), int(r.n), int(r.pos)]
              for r in grid]
    i = 0
    while True:
        # first adjacent violation, exact integer comparison
        viol = next((j for j in range(len(blocks) - 1)
                     if blocks[j][3] * blocks[j + 1][2]
                     > blocks[j + 1][3] * blocks[j][2]), None)
        if viol is None:
            break
        a, b = blocks[viol], blocks[viol + 1]
        blocks[viol:viol + 2] = [[a[0], b[1], a[2] + b[2], a[3] + b[3]]]
        i += 1
    rows = [(k + 1, lo, hi, n, pos, pos * 1_000_000 // n)
            for k, (lo, hi, n, pos) in enumerate(blocks)]
    return spark.createDataFrame(
        rows, "block_idx long, bin_lo long, bin_hi long, n long, "
              "pos long, rate_micro long")


def _iso_sql() -> str:
    b = _ISO_BINS
    return f"""
WITH RECURSIVE
sc AS MATERIALIZED (
  SELECT CAST(floor(embedding[1] * 1e6) AS BIGINT) AS v,
         CAST(label = 1 AS BIGINT) AS y
  FROM embeddings),
mm AS MATERIALIZED (SELECT min(v) AS mn, max(v) AS mx FROM sc),
grid AS MATERIALIZED (
  SELECT CAST((v - mn) * {b} // (mx - mn + 1) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM sc, mm GROUP BY 1),
init AS MATERIALIZED (
  SELECT list(bin ORDER BY bin) AS los, list(bin ORDER BY bin) AS his,
         list(n ORDER BY bin) AS ns, list(pos ORDER BY bin) AS ps
  FROM grid),
pava(step, los, his, ns, ps) AS (
  SELECT 0, los, his, ns, ps FROM init
  UNION ALL
  SELECT q.step + 1,
         q.los[1:q.i-1] || [q.los[q.i]] || q.los[q.i+2:len(q.los)],
         q.his[1:q.i-1] || [q.his[q.i+1]] || q.his[q.i+2:len(q.his)],
         q.ns[1:q.i-1] || [q.ns[q.i] + q.ns[q.i+1]]
           || q.ns[q.i+2:len(q.ns)],
         q.ps[1:q.i-1] || [q.ps[q.i] + q.ps[q.i+1]]
           || q.ps[q.i+2:len(q.ps)]
  FROM (
    SELECT p.*,
           ([i for i in range(1, len(p.ns))
             if p.ps[i] * p.ns[i+1] > p.ps[i+1] * p.ns[i]])[1] AS i
    FROM pava p
  ) q
  WHERE q.i IS NOT NULL),
fin AS (SELECT * FROM pava ORDER BY step DESC LIMIT 1)
SELECT CAST(u.i AS BIGINT) AS block_idx,
       f.los[u.i] AS bin_lo, f.his[u.i] AS bin_hi,
       f.ns[u.i] AS n, f.ps[u.i] AS pos,
       CAST(f.ps[u.i] * 1000000 // f.ns[u.i] AS BIGINT) AS rate_micro
FROM fin f, (SELECT unnest(range(1, len(ns) + 1)) AS i FROM fin) u
ORDER BY block_idx
"""


QUERIES["ml_isotonic_calibration"] = (ml_isotonic_calibration, _iso_sql())


# --- recommender coverage / diversity ------------------------------------

def recsys_coverage_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Beyond-accuracy recommender eval over the item-item top-k:
    catalog coverage (what share of the catalog ever gets recommended)
    and intra-list similarity (how redundant each top-k list is —
    mean pairwise cosine between its members, missing co-occurrence =
    0).  Same blocked-pair cosine precompute as
    recsys_item_item_cosine; the intra-list pass joins k·(k-1)/2 pairs
    per list back against the similarity table — bounded by k², never
    by catalog size."""
    # r10: tried the basket-array pair build here and REVERTED it —
    # this query needs BOTH pair orientations, and symmetrizing the
    # strict pa<pb counts duplicates the whole cc subtree (measured
    # 5.1-6.1s vs 2.9s at sf0.1); the `!=` self-join emits both
    # orientations in one pass.  sim (referenced by the top-k window
    # AND the intra-list re-score) and recs (three readouts) are
    # pinned so the pair build runs once (guide §5).
    li = (t(spark, sf, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a, b = li.alias("a"), li.alias("b")
    cooc = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") != F.col("b.l_partkey")))
            .groupBy(F.col("a.l_partkey").alias("pa"),
                     F.col("b.l_partkey").alias("pb"))
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .filter(F.col("n_ab") >= 2))
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    ca = cnt.select(F.col("l_partkey").alias("ka"),
                    F.col("n_orders").alias("n_a"))
    cb = cnt.select(F.col("l_partkey").alias("kb"),
                    F.col("n_orders").alias("n_b"))
    cos = (F.col("n_ab").cast("double")
           / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")))
    sim = pin(cooc.join(F.broadcast(ca), F.col("pa") == F.col("ka"))
              .join(F.broadcast(cb), F.col("pb") == F.col("kb"))
              .select("pa", "pb", "n_ab",
                      F.floor(cos * 1_000_000).cast("long")
                      .alias("cos_micro")))
    w = Window.partitionBy("pa").orderBy(
        F.desc("cos_micro"), F.desc("n_ab"), F.asc("pb"))
    recs = pin(sim.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") <= _RECS_K)
               .select("pa", "rk", "pb"))
    r1 = recs.select("pa", F.col("rk").alias("r1"), F.col("pb").alias("x"))
    r2 = recs.select(F.col("pa").alias("pa2"), F.col("rk").alias("r2"),
                     F.col("pb").alias("y"))
    pairs = (r1.join(r2, (F.col("pa") == F.col("pa2"))
                     & (F.col("r1") < F.col("r2")))
             .select("pa", "x", "y"))
    spair = sim.select(F.col("pa").alias("sx"), F.col("pb").alias("sy"),
                       F.col("cos_micro").alias("pair_sim"))
    intra = (pairs.join(spair, (F.col("x") == F.col("sx"))
                        & (F.col("y") == F.col("sy")), "left")
             .na.fill({"pair_sim": 0})
             .agg(F.count(F.lit(1)).alias("n_pairs"),
                  F.sum("pair_sim").alias("sim_sum")))
    stats = (recs.agg(
        F.countDistinct("pa").alias("n_items_with_recs"),
        F.countDistinct("pb").alias("n_recommended"),
        F.count(F.lit(1)).alias("n_rec_rows")))
    catalog = cnt.agg(F.count(F.lit(1)).alias("n_catalog"))
    return (stats.crossJoin(F.broadcast(catalog))
            .crossJoin(F.broadcast(intra))
            .select(
        "n_catalog", "n_items_with_recs", "n_recommended", "n_rec_rows",
        F.expr("n_recommended * 1000000 div n_catalog")
         .alias("coverage_ppm"),
        "n_pairs",
        F.expr("sim_sum div n_pairs").alias("mean_intra_sim_micro"),
        F.expr("1000000 - sim_sum div n_pairs")
         .alias("mean_intra_diversity_micro")))


RECS_EVAL_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cooc AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
        FROM li GROUP BY 1),
sim AS (
  SELECT c.pa, c.pb, c.n_ab,
         CAST(floor(CAST(c.n_ab AS DOUBLE)
                    / sqrt(CAST(ca.n_orders * cb.n_orders AS DOUBLE))
                    * 1000000) AS BIGINT) AS cos_micro
  FROM cooc c
  JOIN cnt ca ON ca.l_partkey = c.pa
  JOIN cnt cb ON cb.l_partkey = c.pb),
recs AS (
  SELECT pa, rk, pb FROM (
    SELECT *, row_number() OVER (PARTITION BY pa
                ORDER BY cos_micro DESC, n_ab DESC, pb) AS rk
    FROM sim) WHERE rk <= {_RECS_K}),
pairs AS (
  SELECT a.pa, a.pb AS x, b.pb AS y
  FROM recs a JOIN recs b ON a.pa = b.pa AND a.rk < b.rk),
intra AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(COALESCE(s.cos_micro, 0)) AS BIGINT) AS sim_sum
  FROM pairs p LEFT JOIN sim s ON s.pa = p.x AND s.pb = p.y),
stats AS (
  SELECT CAST(count(DISTINCT pa) AS BIGINT) AS n_items_with_recs,
         CAST(count(DISTINCT pb) AS BIGINT) AS n_recommended,
         CAST(count(*) AS BIGINT) AS n_rec_rows
  FROM recs),
catalog AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM cnt)
SELECT n_catalog, n_items_with_recs, n_recommended, n_rec_rows,
       CAST(n_recommended * 1000000 // n_catalog AS BIGINT)
         AS coverage_ppm,
       n_pairs,
       CAST(sim_sum // n_pairs AS BIGINT) AS mean_intra_sim_micro,
       CAST(1000000 - sim_sum // n_pairs AS BIGINT)
         AS mean_intra_diversity_micro
FROM stats, catalog, intra
"""

QUERIES["recsys_coverage_diversity"] = (recsys_coverage_diversity,
                                        RECS_EVAL_SQL)


# --- unigram-LM Viterbi segmentation audit -------------------------------

_UNI_V = 256        # top-V multi-char pieces (all single chars always in)
_UNI_MAXLEN = 16    # words longer than this are excluded (and counted)
_UNI_MAXPIECE = 4


def _unigram_prep(spark: SparkSession, sf: str):
    """(words, vocab_rows): corpus word frequencies and the scored
    unigram vocabulary — shared by the Spark plan; the oracle rebuilds
    the identical tables in SQL."""
    from storagetapper_spark.operators.text import normalize_text

    docs = t(spark, sf, "documents")
    # r10 (guide §5): the word-frequency table feeds the vocabulary
    # build (collected) AND the Viterbi mapInPandas — pin the
    # vocabulary-bounded table so the corpus tokenizes once.
    words = pin(docs.select(F.explode(F.split(
        normalize_text(F.col("text")), " ")).alias("word"))
        .filter((F.length("word") >= 1) & (F.length("word") <= _UNI_MAXLEN))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    subs = words.select(
        "freq",
        F.explode(F.expr(f"""flatten(transform(sequence(1, {_UNI_MAXPIECE}),
            n -> CASE WHEN length(word) >= n
                 THEN transform(sequence(1, length(word) - n + 1),
                                i -> substring(word, i, n))
                 ELSE array() END))""")).alias("piece"))
    pf = subs.groupBy("piece").agg(F.sum("freq").alias("pf"))
    topv = pf.orderBy(F.desc("pf"), F.asc("piece")).limit(_UNI_V)
    singles = pf.filter(F.length("piece") == 1)
    vocab = topv.unionByName(singles).groupBy("piece").agg(
        F.max("pf").alias("pf"))
    z = vocab.agg(F.sum("pf").cast("double").alias("z"))
    scored = (vocab.crossJoin(F.broadcast(z))
              .select("piece",
                      F.round(F.log(F.col("pf").cast("double")
                                    / F.col("z")) * 1e6)
                      .cast("long").alias("sc")))
    return words, scored


def tokenizer_unigram_viterbi(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) Viterbi segmentation audit: a
    frequency-derived piece vocabulary (top-256 substrings up to 4
    chars + every single char) scores each corpus word's best
    segmentation; output is the per-word-length compression profile
    (pieces per word, chars per piece, mean log-likelihood).

    Cross-engine exactness: piece log-probs are quantized to micro
    units ONCE per vocab entry (vocab-bounded transcendental), so the
    Viterbi DP itself is pure INTEGER max-plus algebra — both engines
    replay identical comparisons, tie-broken by (score, fewer pieces,
    latest split) — the oracle unrolls the DP as 16 chained CTEs
    carrying the best/count arrays.

    100 TB shape: corpus -> word-frequency table (one shuffle);
    vocabulary is a top-k (TakeOrdered) collected at V+alphabet rows;
    the DP runs as an Arrow mapInPandas over DISTINCT words with the
    broadcast vocab dict — per-word cost is bounded by 16·4 lookups,
    and the word table is vocabulary-sized, not corpus-sized."""
    words, scored = _unigram_prep(spark, sf)
    vocab = {r["piece"]: int(r["sc"]) for r in scored.collect()}

    def seg(iterator):
        import pandas as pd

        for pdf in iterator:
            out_w, out_f, out_l, out_n, out_s = [], [], [], [], []
            for word, freq in zip(pdf["word"], pdf["freq"]):
                L = len(word)
                bests = [0] * (L + 1)
                cnts = [0] * (L + 1)
                for j in range(1, L + 1):
                    cands = []
                    for i in range(max(0, j - _UNI_MAXPIECE), j):
                        sc = vocab.get(word[i:j])
                        if sc is not None:
                            cands.append((bests[i] + sc,
                                          -(cnts[i] + 1), i))
                    s, negc, _ = max(cands)
                    bests[j], cnts[j] = s, -negc
                out_w.append(word)
                out_f.append(int(freq))
                out_l.append(L)
                out_n.append(cnts[L])
                out_s.append(bests[L])
            yield pd.DataFrame({"word": out_w, "freq": out_f,
                                "len": out_l, "n_pieces": out_n,
                                "sc": out_s})

    per_word = words.mapInPandas(
        seg, "word string, freq long, len long, n_pieces long, sc long")
    # freq x sc passes int64 at extreme corpus scale — widen (ADVICE
    # overflow discipline)
    return (per_word.groupBy("len")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("freq").alias("total_freq"),
                 F.sum(F.col("freq") * F.col("n_pieces"))
                 .alias("total_pieces"),
                 F.sum((F.col("freq").cast("decimal(19,0)")
                        * F.col("sc")).cast("decimal(38,0)"))
                 .alias("_ws"))
            .select(
        "len", "n_words", "total_freq", "total_pieces",
        F.expr("total_pieces * 1000 div total_freq")
         .alias("avg_pieces_milli"),
        F.expr("len * total_freq * 1000000 div total_pieces")
         .alias("chars_per_piece_micro"),
        F.floor(F.col("_ws").cast("double")
                / F.col("total_freq").cast("double"))
         .cast("long").alias("avg_score_micro"))
            .orderBy("len"))


def _unigram_sql() -> str:
    v, ml, mp = _UNI_V, _UNI_MAXLEN, _UNI_MAXPIECE
    steps = []
    prev = "d0"
    for k in range(1, ml + 1):
        steps.append(f"""
d{k} AS MATERIALIZED (
  SELECT q.word, q.freq, q.len,
         CASE WHEN q.len >= {k} THEN q.bests || [(q.m).s]
              ELSE q.bests END AS bests,
         CASE WHEN q.len >= {k} THEN q.cnts || [-(q.m).negc]
              ELSE q.cnts END AS cnts
  FROM (
    SELECT d.*,
           CASE WHEN d.len >= {k} THEN
             list_aggregate([{{'s': d.bests[c.i + 1] + c.sc,
                               'negc': -(d.cnts[c.i + 1] + 1),
                               'ci': c.i}} for c in cj.cands], 'max')
           END AS m
    FROM {prev} d LEFT JOIN cj ON cj.word = d.word AND cj.j = {k}
  ) q)""")
        prev = f"d{k}"
    return f"""
WITH words AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
           AS word
    FROM documents)
  WHERE length(word) BETWEEN 1 AND {ml}
  GROUP BY word),
subs AS MATERIALIZED (
  SELECT freq, substr(word, p.i + 1, p.n) AS piece
  FROM (
    SELECT word, freq,
           unnest(flatten([[{{'i': i, 'n': n}}
                           for i in range(0, length(word) - n + 1)]
                          for n in range(1, {mp + 1})])) AS p
    FROM words)),
pf AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS pf FROM subs GROUP BY piece),
topv AS (SELECT piece, pf FROM pf ORDER BY pf DESC, piece LIMIT {v}),
singles AS (SELECT piece, pf FROM pf WHERE length(piece) = 1),
vocab AS (
  SELECT piece, max(pf) AS pf
  FROM (SELECT * FROM topv UNION ALL SELECT * FROM singles)
  GROUP BY piece),
z AS (SELECT CAST(sum(pf) AS DOUBLE) AS z FROM vocab),
scored AS MATERIALIZED (
  SELECT piece,
         CAST(round(ln(CAST(pf AS DOUBLE) / z) * 1e6) AS BIGINT) AS sc
  FROM vocab, z),
cand AS MATERIALIZED (
  SELECT e.word, e.p.i AS i, e.p.i + e.p.n AS j, s.sc
  FROM (
    SELECT word,
           unnest(flatten([[{{'i': i, 'n': n}}
                           for i in range(0, length(word) - n + 1)]
                          for n in range(1, {mp + 1})])) AS p
    FROM words) e
  JOIN scored s ON s.piece = substr(e.word, e.p.i + 1, e.p.n)),
cj AS MATERIALIZED (
  SELECT word, j, list({{'i': i, 'sc': sc}} ORDER BY i) AS cands
  FROM cand GROUP BY word, j),
d0 AS (
  SELECT word, freq, CAST(length(word) AS BIGINT) AS len,
         [CAST(0 AS BIGINT)] AS bests, [CAST(0 AS BIGINT)] AS cnts
  FROM words),{",".join(steps)},
fin AS (
  SELECT word, freq, len,
         bests[len + 1] AS sc, cnts[len + 1] AS np
  FROM d{ml})
SELECT len, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(freq) AS BIGINT) AS total_freq,
       CAST(sum(freq * np) AS BIGINT) AS total_pieces,
       CAST(sum(freq * np) * 1000 // sum(freq) AS BIGINT)
         AS avg_pieces_milli,
       CAST(len * sum(freq) * 1000000 // sum(freq * np) AS BIGINT)
         AS chars_per_piece_micro,
       CAST(floor(CAST(sum(CAST(CAST(freq AS HUGEINT) * sc
                                AS DECIMAL(38,0))) AS DOUBLE)
                  / CAST(sum(freq) AS DOUBLE)) AS BIGINT)
         AS avg_score_micro
FROM fin GROUP BY len ORDER BY len
"""


QUERIES["tokenizer_unigram_viterbi"] = (tokenizer_unigram_viterbi,
                                        _unigram_sql())
