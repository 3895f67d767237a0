"""Mergeable-sketch batch 2: count-min heavy hitters and the AMS
second-moment estimator, both built ENGINE-PORTABLY (salted-md5 hash
cells) so the DuckDB oracle verifies the estimator output itself —
unlike native sketch bytes (sketch_hll_union), these check exact-vs-
estimate in one hash-stable result.

Why these matter at 100 TB: both sketches are linear — per-partition
cell matrices / sign sums ADD, so the reduce is a fixed-size vector
merge regardless of corpus size (the same argument as the KMV theta
sketch in datapipe8).  The token count table they're built from here
is vocabulary-sized; in production the per-partition sketch replaces
even that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin
from storagetapper_spark.plans.common import t

_CMS_D = 4      # hash rows
_CMS_W = 256    # cells per row
_TOPK = 10

_NORM_TOKS_SQL = """
toks AS (
  SELECT unnest(string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')), ' ')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok)
"""


def _token_counts(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    toks = docs.select(F.explode(F.split(F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
        " +", " ")), " ")).alias("tok"))
    return toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))


def sketch_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch (d=4 × w=256) over corpus token counts, read
    back for the exact top-10 tokens: reports the CMS estimate next to
    the true count.  CMS guarantees est ≥ true (one-sided error) —
    asserted by the oracle match since both engines build the identical
    deterministic matrix.  Cell build and readback are equi-joins on
    (row, cell); the sketch itself is 1024 counters."""
    cnt = pin(_token_counts(spark, sf))  # the cells and the top-k read it
    rows = F.explode(F.array(
        *[F.lit(r) for r in range(_CMS_D)])).alias("r")
    cells = (cnt.select("tok", "n", rows)
             .select("r", _cell_dyn("r", F.col("tok")).alias("c"), "n")
             .groupBy("r", "c").agg(F.sum("n").alias("cell_n")))
    top = (cnt.orderBy(F.desc("n"), "tok").limit(_TOPK)
           .select("tok", "n", rows)
           .select("tok", "n", "r",
                   _cell_dyn("r", F.col("tok")).alias("c")))
    est = (top.join(cells, ["r", "c"])
           .groupBy("tok", "n")
           .agg(F.min("cell_n").alias("cms_est")))
    return (est.select("tok", F.col("n").alias("exact_n"), "cms_est")
            .orderBy(F.desc("exact_n"), "tok"))


def _cell_dyn(row_col: str, tok_col):
    return (F.conv(F.substring(
        F.md5(F.concat(F.col(row_col).cast("string"), F.lit("|"),
                       tok_col)), 1, 15), 16, 10)
        .cast("long") % _CMS_W)


_CELL_SQL = ("CAST(('0x' || substring(md5(CAST({r} AS VARCHAR) || '|' "
             "|| tok), 1, 15)) AS BIGINT) % " + str(_CMS_W))

CMS_SQL = f"""
WITH {_NORM_TOKS_SQL},
expanded AS (
  SELECT tok, n, r.r
  FROM cnt CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS r) r
),
cells AS (
  SELECT r, {_CELL_SQL.format(r='r')} AS c, CAST(sum(n) AS BIGINT) AS cell_n
  FROM expanded GROUP BY 1, 2
),
top AS (
  SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT {_TOPK}
),
texp AS (
  SELECT t.tok, t.n, r.r, {_CELL_SQL.format(r='r.r')} AS c
  FROM top t CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS r) r
)
SELECT texp.tok, CAST(texp.n AS BIGINT) AS exact_n,
       CAST(min(cells.cell_n) AS BIGINT) AS cms_est
FROM texp JOIN cells ON cells.r = texp.r AND cells.c = texp.c
GROUP BY texp.tok, texp.n
ORDER BY exact_n DESC, tok
"""


QUERIES = {
    "sketch_cms_heavy_hitters": (sketch_cms_heavy_hitters, CMS_SQL),
}


_AMS_REPS = 8


def sketch_ams_f2(spark: SparkSession, sf: str) -> DataFrame:
    """AMS second-frequency-moment estimator: 8 independent ±1 sign
    hashes (md5 parity), est_i = (Σ_tok sign_i·n_tok)², averaged —
    next to the exact F2 = Σ n².  Sign sums are exact BIGINTs (linear,
    mergeable per partition); the relative error ships micro-quantized
    from one final division."""
    cnt = _token_counts(spark, sf)
    reps = F.explode(F.array(
        *[F.lit(i) for i in range(_AMS_REPS)])).alias("i")
    sign = (F.when(
        F.conv(F.substring(
            F.md5(F.concat(F.col("i").cast("string"), F.lit("#"),
                           F.col("tok"))), 1, 15), 16, 10)
        .cast("long") % 2 == 0, 1).otherwise(-1))
    sums = (cnt.select("tok", "n", reps)
            .select("i", (sign * F.col("n")).alias("sn"))
            .groupBy("i").agg(F.sum("sn").alias("s")))
    ests = sums.select((F.col("s") * F.col("s")).alias("est"))
    exact = cnt.agg(F.sum(F.col("n") * F.col("n")).alias("exact_f2"))
    agg = ests.agg(F.count(F.lit(1)).alias("k"),
                   F.sum("est").alias("sum_est"))
    out = agg.crossJoin(exact)
    mean_est = F.floor(F.col("sum_est").cast("double")
                       / F.col("k").cast("double")).cast("long")
    rel = (F.abs(F.col("sum_est").cast("double")
                 / F.col("k").cast("double")
                 - F.col("exact_f2").cast("double"))
           / F.col("exact_f2").cast("double"))
    return out.select("exact_f2", mean_est.alias("ams_mean_est"),
                      F.floor(rel * 1000000).cast("long")
                      .alias("rel_err_micro"))


AMS_SQL = f"""
WITH {_NORM_TOKS_SQL},
expanded AS (
  SELECT tok, n, r.i,
         CASE WHEN CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR)
                || '#' || tok), 1, 15)) AS BIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM cnt CROSS JOIN (SELECT unnest(range(0, {_AMS_REPS})) AS i) r
),
sums AS (
  SELECT i, CAST(sum(sgn * n) AS BIGINT) AS s FROM expanded GROUP BY i
),
agg AS (
  SELECT count(*) AS k, CAST(sum(s * s) AS BIGINT) AS sum_est FROM sums
),
exact AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact_f2 FROM cnt)
SELECT exact.exact_f2,
       CAST(floor(CAST(agg.sum_est AS DOUBLE) / agg.k) AS BIGINT)
         AS ams_mean_est,
       CAST(floor(abs(CAST(agg.sum_est AS DOUBLE) / agg.k
                      - CAST(exact.exact_f2 AS DOUBLE))
                  / CAST(exact.exact_f2 AS DOUBLE) * 1000000) AS BIGINT)
         AS rel_err_micro
FROM agg CROSS JOIN exact
"""


QUERIES["sketch_ams_f2"] = (sketch_ams_f2, AMS_SQL)


_BF_M = 4096   # bloom bits
_BF_K = 3      # hash functions


def sketch_bloom_fp_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter quality audit: build an m=4096-bit / k=3 filter
    over one brand's part keys, probe it with EVERY part key, and
    report the measured false-positive rate next to the exact truth —
    the calibration readout a pipeline checks before trusting a Bloom
    prune (operators/bloom.py) at a new key-set size.

    Unlike the runtime filter (xxhash64, JVM-only), the audit hashes
    with salted md5 so the oracle replays every bit position.  The set
    of SET bits is a <= m-row table (distinct positions), broadcast to
    the probe side; a probe hits when all k of its positions are set.
    One scan of parts on each side, no collect."""
    parts = t(spark, sf, "part")
    members = parts.filter(F.col("p_brand") == "Brand#11") \
                   .select("p_partkey")

    from storagetapper_spark.operators.bloom import md5_positions

    def positions(df: DataFrame) -> DataFrame:
        pos = F.explode(F.array(
            *md5_positions(F.col("p_partkey"), _BF_M, _BF_K))).alias("pos")
        return df.select("p_partkey", pos)

    bits = positions(members).select("pos").distinct()
    probes = positions(parts.select("p_partkey"))
    hits = (probes.join(F.broadcast(bits), "pos")
            .groupBy("p_partkey")
            .agg(F.count(F.lit(1)).alias("nhit"))
            .filter(F.col("nhit") == _BF_K)
            .select("p_partkey", F.lit(1).alias("bloom_hit")))
    truth = parts.select(
        "p_partkey",
        (F.col("p_brand") == "Brand#11").cast("int").alias("is_member"))
    joined = truth.join(hits, "p_partkey", "left") \
                  .fillna(0, subset=["bloom_hit"])
    stats = joined.agg(
        F.sum("is_member").alias("n_members"),
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("bloom_hit").alias("bloom_hits"),
        F.sum(F.col("bloom_hit")
              * (1 - F.col("is_member"))).alias("false_positives"),
        F.sum(F.col("is_member")
              * (1 - F.col("bloom_hit"))).alias("false_negatives"))
    nbits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    return (stats.crossJoin(F.broadcast(nbits))
            .select("n_members", "n_probes", "bits_set", "bloom_hits",
                    "false_positives", "false_negatives",
                    F.floor(F.col("false_positives").cast("double")
                            * 1000000.0
                            / (F.col("n_probes")
                               - F.col("n_members")).cast("double"))
                    .cast("long").alias("fp_rate_micro")))


def _bf_pos_sql(alias: str) -> str:
    return " UNION ALL ".join(
        f"SELECT p_partkey, CAST(('0x' || substring(md5("
        f"CAST(p_partkey AS VARCHAR) || ':{i}'), 1, 15)) AS BIGINT)"
        f" % {_BF_M} AS pos FROM {alias}"
        for i in range(_BF_K))


BLOOM_FP_SQL = f"""
WITH members AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#11'
),
allparts AS (SELECT p_partkey FROM part),
bits AS (
  SELECT DISTINCT pos FROM ({_bf_pos_sql('members')})
),
probe_pos AS ({_bf_pos_sql('allparts')}),
hits AS (
  SELECT p_partkey, 1 AS bloom_hit
  FROM probe_pos JOIN bits USING (pos)
  GROUP BY p_partkey HAVING count(*) = {_BF_K}
),
truth AS (
  SELECT p_partkey,
         CASE WHEN p_brand = 'Brand#11' THEN 1 ELSE 0 END AS is_member
  FROM part
),
joined AS (
  SELECT t.is_member, coalesce(h.bloom_hit, 0) AS bloom_hit
  FROM truth t LEFT JOIN hits h USING (p_partkey)
),
stats AS (
  SELECT CAST(sum(is_member) AS BIGINT) AS n_members,
         count(*) AS n_probes,
         CAST(sum(bloom_hit) AS BIGINT) AS bloom_hits,
         CAST(sum(bloom_hit * (1 - is_member)) AS BIGINT)
           AS false_positives,
         CAST(sum(is_member * (1 - bloom_hit)) AS BIGINT)
           AS false_negatives
  FROM joined
)
SELECT n_members, n_probes,
       (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
       bloom_hits, false_positives, false_negatives,
       CAST(floor(CAST(false_positives AS DOUBLE) * 1000000.0
                  / CAST(n_probes - n_members AS DOUBLE)) AS BIGINT)
         AS fp_rate_micro
FROM stats
"""


QUERIES["sketch_bloom_fp_audit"] = (sketch_bloom_fp_audit, BLOOM_FP_SQL)
