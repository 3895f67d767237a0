"""Deterministic sampling and sequence packing for training-data jobs.

- ``hash_sample``: content-hash Bernoulli sampling — deterministic and
  engine-portable (unlike rng-based ``df.sample``), stable across
  re-runs: the SAME documents are always picked, which reproducible
  training-data builds require.
- ``stratified_hash_sample``: per-stratum rates with the same property.
- ``pack_sequences``: greedy first-fit packing of documents into token
  budgets (context windows) per partition — applyInPandas over a
  distribution key, constant memory, no driver involvement.
- ``shuffle_shard``: reproducible global shuffle + shard assignment —
  the write-side permutation every training-data build runs before
  emitting example files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.operators.pin import pin

#: 2^64-scale denominator for md5-prefix-as-uniform
_DENOM = float(1 << 60)


def _uniform_from_hash(col) -> "F.Column":
    # first 15 hex chars of md5 → [0, 1) uniform, deterministic
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10) \
            .cast("double") / F.lit(_DENOM)


def hash_sample(df: DataFrame, rate: float, key_col: str,
                salt: str = "") -> DataFrame:
    """Keep rows whose hash-uniform < rate; same key ⇒ same decision."""
    u = _uniform_from_hash(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return df.filter(u < rate)


def stratified_hash_sample(df: DataFrame, rates: dict[str, float],
                           stratum_col: str, key_col: str,
                           default_rate: float = 0.0,
                           salt: str = "") -> DataFrame:
    """Per-stratum deterministic rates (sampleBy without RNG)."""
    u = _uniform_from_hash(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    rate = F.lit(default_rate)
    for s, r in rates.items():
        rate = F.when(F.col(stratum_col) == s, F.lit(r)).otherwise(rate)
    return df.filter(u < rate)


def weighted_hash_sample(df: DataFrame, weight_col: str, key_col: str,
                         alpha: float = 0.5, scale: float = 1.0,
                         salt: str = "") -> DataFrame:
    """Temperature-weighted deterministic sampling: keep probability
    min(1, scale * w^alpha) per row — alpha < 1 flattens source/domain
    imbalance (the multilingual-corpus resampling trick) while keeping
    the reproducibility of ``hash_sample``.  alpha=0.5 uses sqrt
    explicitly (IEEE correctly-rounded, hence engine-portable for the
    oracle; pow() implementations may differ in the last ulp)."""
    u = _uniform_from_hash(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = F.col(weight_col).cast("double")
    wa = F.sqrt(w) if alpha == 0.5 else F.pow(w, F.lit(alpha))
    p = F.least(F.lit(1.0), F.lit(scale) * wa)
    return df.filter(u < p)


def shuffle_shard(df: DataFrame, n_shards: int, id_col: str = "doc_id",
                  seed: str = "0") -> DataFrame:
    """Reproducible global shuffle + sharding: adds ``shard`` (int) and
    ``sort_key`` (md5 hex) columns.  Training-data builds need a
    permutation that is (a) uniform, (b) identical across re-runs and
    engines, (c) writable without any global sort.  Salted md5 of the
    id gives (a)+(b); the shard is the key's hex prefix mapped through
    its first chars so shard boundaries are hash ranges (``n_shards``
    must be a power of 16 ≤ 65536 for exact-prefix mapping; other
    values use pmod of the prefix).

    Write pattern at scale: ``.repartition(n_shards, "shard")
    .sortWithinPartitions("sort_key")`` then partitioned write — one
    shuffle, each output file internally hash-ordered, NO global sort
    or window anywhere (a per-shard row_number would serialize 1/n of
    the corpus through one task).  Readers streaming shards in key
    order see a deterministic global permutation."""
    h = F.md5(F.concat_ws("|", F.lit(seed),
                          F.col(id_col).cast("string")))
    # hex prefix → integer without conv-overflow: 4 hex chars = 16 bits
    prefix = (F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1) \
        * 4096 \
        + (F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1) \
        * 256 \
        + (F.instr(F.lit("0123456789abcdef"), F.substring(h, 3, 1)) - 1) \
        * 16 \
        + (F.instr(F.lit("0123456789abcdef"), F.substring(h, 4, 1)) - 1)
    return df.withColumn("sort_key", h) \
             .withColumn("shard",
                         F.pmod(prefix, F.lit(n_shards)).cast("int"))


def pack_sequences(df: DataFrame, budget: int, id_col: str = "doc_id",
                   tokens_col: str = "n_tokens",
                   part_col: str | None = None) -> DataFrame:
    """Greedy first-fit-decreasing packing of docs into token-budget
    bins.  Packing runs per partition (``part_col`` or a hash of the id)
    — bins never span partitions, so the operator scales linearly and
    shuffles only (id, token-count).

    Output: one row per doc with its (partition, bin) assignment and the
    bin's total fill."""
    spark_part = (F.col(part_col) if part_col
                  else (F.abs(F.xxhash64(F.col(id_col))) % 64)).alias("_part")
    slim = df.select(F.col(id_col), F.col(tokens_col), spark_part)

    out_schema = T.StructType([
        T.StructField("_part", T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField(tokens_col, T.LongType()),
        T.StructField("bin_id", T.LongType()),
        T.StructField("bin_fill", T.LongType()),
    ])

    def pack(key, pdf):
        import pandas as pd
        pdf = pdf.sort_values(tokens_col, ascending=False)
        bins: list[int] = []  # current fill per bin
        assign = []
        for tok in pdf[tokens_col]:
            tok = int(min(tok, budget))
            placed = None
            for i, fill in enumerate(bins):
                if fill + tok <= budget:
                    placed = i
                    bins[i] += tok
                    break
            if placed is None:
                bins.append(tok)
                placed = len(bins) - 1
            assign.append(placed)
        pdf = pdf.copy()
        pdf["bin_id"] = assign
        pdf["bin_fill"] = [bins[b] for b in assign]
        return pdf[["_part", id_col, tokens_col, "bin_id", "bin_fill"]]

    return (slim.groupBy("_part").applyInPandas(pack, out_schema)
                .withColumnRenamed("_part", "pack_partition"))


def split_assign(df: DataFrame, key_col: str,
                 fractions: dict[str, float] | None = None,
                 salt: str = "split") -> DataFrame:
    """Disjoint, exhaustive train/val/test assignment: the hash-uniform
    falls into cumulative fraction bands, so every row gets EXACTLY one
    label, membership is reproducible across runs/engines, and adding
    rows never reshuffles existing assignments (the property RNG splits
    lack).  Pure projection — no shuffle."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    u = _uniform_from_hash(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    items = list(fractions.items())
    expr = F.lit(items[-1][0])  # remainder absorbs float slack
    cum = 0.0
    branches = []
    for name, frac in items[:-1]:
        cum += frac
        branches.append((name, cum))
    for name, bound in reversed(branches):
        expr = F.when(u < bound, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def mixture_rebalance(df: DataFrame, stratum_col: str,
                      targets: dict[str, float], key_col: str,
                      salt: str = "mix") -> DataFrame:
    """Downsample-only rebalancing to a target stratum mixture (the
    corpus-composition primitive: 'make the training set 30% en, 17.5%
    each of the rest').

    The maximum corpus size reachable without upsampling is
    M = min_s n_s / target_s; each stratum keeps rate_s = target_s * M /
    n_s of its rows (the binding stratum keeps 100%).  Rates derive from
    exact group counts via two tiny aggregations (broadcast back — no
    driver collect); membership is hash-deterministic per key.
    """
    tcol = F.lit(None).cast("double")
    for s, tgt in targets.items():
        tcol = F.when(F.col(stratum_col) == s, F.lit(tgt)).otherwise(tcol)
    counts = (df.groupBy(stratum_col)
                .agg(F.count(F.lit(1)).cast("double").alias("_n"))
                .withColumn("_t", tcol)
                .where(F.col("_t").isNotNull()))
    m = counts.agg(F.min(F.col("_n") / F.col("_t")).alias("_m"))
    rates = (counts.crossJoin(F.broadcast(m))
             .select(stratum_col,
                     (F.col("_t") * F.col("_m") / F.col("_n")).alias("_rate")))
    u = _uniform_from_hash(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return (df.join(F.broadcast(rates), stratum_col)
              .where(u < F.col("_rate"))
              .drop("_rate"))


def budget_cut(df: DataFrame, score_col: str, weight_col: str,
               budget: int, id_col: str = "doc_id",
               n_buckets: int = 64) -> DataFrame:
    """Global "best docs until the token budget is spent" selection —
    the corpus-trimming step of a quality-ranked training-data build:
    order by (score DESC, id ASC), keep each doc whose inclusive
    running ``weight_col`` total stays within ``budget``.

    A naive global sort + running-sum window over the corpus is the
    anti-pattern (one unbounded ordered partition).  Scale-safe
    two-phase form:
      1. fixed-width score histogram: one min/max agg (broadcast
         scalars), a narrow bucket-assign pass, and a per-bucket
         weight-sum agg of ``n_buckets`` rows — collected driver-side
         (bounded by n_buckets, the IVF-centroid discipline);
      2. the prefix over bucket sums finds the first bucket where the
         budget crosses; buckets strictly better are selected whole,
         and the exact running sum = broadcast per-bucket prefix
         offset + a bucket-PARTITIONED window over the candidate set
         (winners + the straddling bucket) — no unpartitioned ordered
         window anywhere, and the wide work is output-bounded, not
         corpus-bounded.
    Output: selected (id, score, weight, cum) rows, exactly the docs a
    single-node ORDER BY ... WHERE cumsum <= budget would keep (ties
    broken by id, so re-runs and the DuckDB oracle agree row-for-row).
    """
    from pyspark.sql import Window

    # r10 (guide §8): pin the narrow (id, score, weight) proxy — the
    # histogram pass, the bucket-sum collect and the final candidate
    # window all read it, and without the pin each pass
    # re-derived the weights from the raw input (for corpus_budget_cut
    # that is three full tokenize passes over the document text).
    base = pin(df.select(F.col(id_col).alias("_id"),
                         F.col(score_col).cast("long").alias("_score"),
                         F.col(weight_col).cast("long").alias("_w")))
    lo, hi = base.agg(F.min("_score"), F.max("_score")).first()
    if lo is None:
        return base.select(F.col("_id").alias(id_col),
                           F.col("_score").alias(score_col),
                           F.col("_w").alias(weight_col),
                           F.lit(0).cast("long").alias("cum_weight"))
    width = max(1, (hi - lo) // n_buckets + 1)
    bucket = ((F.lit(hi) - F.col("_score")) / width).cast("int")
    bucketed = base.select("*", bucket.alias("_b"))
    sums = {int(r._b): int(r.s) for r in
            bucketed.groupBy("_b").agg(F.sum("_w").alias("s")).collect()}
    prefix, running, cut = {}, 0, None
    for b in sorted(sums):
        prefix[b] = running
        if cut is None and running + sums[b] > budget:
            cut = b
        running += sums[b]
    # cut None → whole corpus fits; else candidates = buckets <= cut
    cand = bucketed if cut is None else bucketed.where(F.col("_b") <= cut)
    # Global cumsum = per-bucket prefix offset (driver-side, n_buckets
    # rows, broadcast) + within-bucket running sum.  Buckets are
    # score-monotone (equal scores share a bucket), so this equals the
    # single ORDER BY (score DESC, id) cumsum — but the window is
    # PARTITIONED by bucket: no single-task ordered partition anywhere,
    # even over the candidate set.
    offsets = df.sparkSession.createDataFrame(
        [(b, prefix[b]) for b in sorted(sums)
         if cut is None or b <= cut], "_b int, _off long")
    w = (Window.partitionBy("_b")
         .orderBy(F.desc("_score"), F.asc("_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (cand.join(F.broadcast(offsets), "_b")
            .select("_id", "_score", "_w",
                    (F.col("_off") + F.sum("_w").over(w))
                    .alias("cum_weight"))
            .where(F.col("cum_weight") <= budget)
            .select(F.col("_id").alias(id_col),
                    F.col("_score").alias(score_col),
                    F.col("_w").alias(weight_col),
                    F.col("cum_weight").cast("long").alias("cum_weight")))


def pack_contiguous(df: DataFrame, window: int = 2048, shards: int = 16,
                    id_col: str = "doc_id",
                    weight_col: str = "n_tokens") -> DataFrame:
    """GPT-style contiguous packing manifest: rows are concatenated in
    a deterministic md5-shuffled order and split at exact ``window``
    token boundaries (rows straddle windows); returns each row's global
    start offset and first/last window.

    The global running sum is two-pass (the peak_concurrency sweep):
    md5-sharded local cumsums, then a ``shards``-row offset cascade —
    never one unpartitioned window over the corpus."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keyed = df.select(
        id_col, F.col(weight_col).alias("_w"),
        F.md5(F.col(id_col).cast("string")).alias("_ord"))
    keyed = keyed.withColumn(
        "_shard",
        F.conv(F.substring("_ord", 1, 2), 16, 10).cast("long") % shards)
    w_local = (Window.partitionBy("_shard").orderBy("_ord", id_col)
               .rowsBetween(Window.unboundedPreceding, -1))
    local = keyed.withColumn(
        "_before", F.coalesce(F.sum("_w").over(w_local), F.lit(0)))
    totals = keyed.groupBy("_shard").agg(F.sum("_w").alias("_total"))
    w_shard = (Window.orderBy("_shard")
               .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (totals.withColumn(
        "_offset", F.coalesce(F.sum("_total").over(w_shard), F.lit(0)))
        .select("_shard", "_offset"))
    start = (F.col("_offset") + F.col("_before")).alias("start_token")
    return (local.join(F.broadcast(offsets), "_shard")
            .select(id_col, F.col("_w").alias(weight_col), start)
            .select(id_col, weight_col, "start_token",
                    F.floor(F.col("start_token") / window)
                     .alias("first_window"),
                    F.floor((F.col("start_token") + F.col(weight_col) - 1)
                            / window).alias("last_window")))


def stratified_reservoir(df: DataFrame, strata_cols: list[str], k: int,
                         id_col: str = "doc_id",
                         salt: str = "") -> DataFrame:
    """Exact-size uniform sample of k rows PER STRATUM as a
    deterministic bottom-k sketch: rank rows by salted md5 of the id
    and keep the k smallest per stratum.  A minimum over a uniform hash
    is a uniform draw, so this equals reservoir sampling — but unlike a
    sequential reservoir it is order-free, engine-portable, and
    MERGEABLE: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)),
    which is what the streaming fold (streaming/reservoir.py) and any
    map-side combine rely on.

    Scale shape: the rank is a per-stratum window ordered by the hash;
    Spark ≥ 3.5 plans a map-side WindowGroupLimit, so each task ships at
    most k rows per stratum into the shuffle — never the corpus
    (asserted in tests/test_reservoir.py).

    Output adds ``sort_key`` (the hash) and ``rk`` (1-based rank)."""
    from pyspark.sql import Window

    key = F.md5(F.concat_ws("|", F.lit(salt),
                            F.col(id_col).cast("string")))
    w = (Window.partitionBy(*strata_cols)
         .orderBy(F.col("sort_key"), F.col(id_col)))
    return (df.withColumn("sort_key", key)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))
