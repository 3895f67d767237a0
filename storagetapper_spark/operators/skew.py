"""Skew and co-location machinery — the partitioning levers that decide
whether a plan survives a 1000-executor, 100 TB run.

- ``salted_join``: explicit key-salting for joins where one side has hot
  keys AQE can't split (e.g. the build side must replicate).  The hot
  side gets a random-ish-but-deterministic salt; the other side explodes
  over all salt values for the affected keys.
- ``salted_agg``: two-phase aggregation for hot grouping keys — partial
  aggregate on (key, salt), final aggregate on key.  Only combinable
  aggregates (sum/count/min/max) qualify.
- ``write_bucketed`` / ``bucketed_join_ready``: persist both sides of a
  recurring join bucketed+sorted on the key so the join is co-located
  (no Exchange in the plan) — the Spark analog of the reference's "one
  Kafka partition per key range" layout.
- ``guarded_pair_explode`` / ``basket_units``: the one pair-guard rule
  for basket-array pair builds — over a pinned basket table, read its
  largest basket, explode in place or spread hot baskets' chunk-pair
  units.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import require_pinned

_log = logging.getLogger(__name__)

# Guard thresholds for the basket-array pair builds: a basket of s
# members explodes into s(s-1)/2 pair rows INSIDE one task, so an
# unbounded hot key (one giant order, one boilerplate shingle shared by
# thousands of docs) concentrates quadratic work — and O(s²) output
# rows — on a single executor.  When no basket exceeds _PAIR_CAP
# (cap²/2 ≈ 524k pair rows ≈ a few MB — trivially in-task) every basket
# explodes in place; otherwise baskets are decomposed into chunk-pair
# work units of ≤ _PAIR_CHUNK² pairs each and REDISTRIBUTED across the
# cluster before the explode, so no task ever materializes more than
# chunk² ≈ 262k pairs no matter how hot the key.  The linear
# collect_set array itself stays bounded by max-basket-size × element
# width (a 10⁶-member basket is an 8 MB array row); the quadratic stage
# is the hazard this guards.  Sizing rule: keep cap²·row_width under a
# small fraction of task memory and chunk ≈ cap/2.
_PAIR_CAP = 1024
_PAIR_CHUNK = 512


def pair_list_expr(arr: str, a: str, b: str) -> str:
    """SQL expression: all strict i<j element pairs of sorted-distinct
    array ``arr`` as an array of named structs — the r10 basket-array
    pair build (one in-map combination explode, no self-join)."""
    return (f"flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr})), "
            f"y -> named_struct('{a}', x, '{b}', y))))")


def basket_units(baskets: DataFrame, arr: str = "ps",
                 keep: tuple[str, ...] = (), cap: int = _PAIR_CAP,
                 chunk: int = _PAIR_CHUNK) -> DataFrame:
    """Decompose every basket into bounded pair-work units — the one
    place that decides how a basket pair build is shaped.

    Output: ``keep`` columns + ``_u = (xs, ys, diag)``.  A self unit
    ``(arr, [], true)`` means "all strict i<j pairs of xs" — the
    caller's diag expression over xs is exactly the r10 in-task pair
    explode/fold.  A chunk-pair unit holds contiguous ``chunk``-sized
    slices xs/ys of the sorted array and diag marks xs==ys: every
    strict i<j pair of a basket lives in EXACTLY one unit (within one
    chunk → that diag unit; across two chunks → that (ca<cb) unit,
    where sortedness makes every x<y), so any per-pair expression
    evaluated per unit reproduces the unguarded result bit-for-bit.

    The rule: ``baskets`` must be a live pin (operators/pin.pin; the
    caller pinned it, so this helper's output and the caller's other
    subtrees read one materialized table), else ValueError.  ONE
    aggregate over it, ``max(size(arr))`` and
    ``count_if(size(arr) > cap)``, returns the two numbers, which are
    logged.

    - max ≤ cap (ALL baskets on TPC-H-shaped data, order size ≤ ~7):
      one self unit per basket, no repartition — the upstream groupBy
      hash already spread the baskets.
    - otherwise: baskets ≤ cap stay one self unit, bigger ones become
      chunk-pair units, and ALL units are hash-repartitioned on a
      deterministic high-cardinality key (guide §2.5: never rand()) so
      one hot basket's O((s/chunk)²) units spread over the cluster and
      per-task pair fan-out is bounded by chunk².  The explicit
      numPartitions matters: unit rows are tiny pre-explode, so AQE's
      size-based coalescing (which cannot see the quadratic explode
      fan-out downstream) would merge them back into one partition; a
      user-specified count is exempt, and defaultParallelism keeps it
      cluster-sized rather than a local constant.
    """
    require_pinned(baskets)
    size = F.size(arr)
    mx, n_over = baskets.agg(F.max(size), F.count_if(size > cap)).first()
    mx = mx or 0  # max over an empty basket table is NULL
    _log.info("pair guard on %s: max basket %d, %d over cap %d",
              arr, mx, n_over, cap)
    keepc = [F.col(c) for c in keep]
    self_unit = (f"named_struct('xs', {arr}, 'ys', slice({arr}, 1, 0), "
                 f"'diag', true)")
    if mx <= cap:
        return baskets.select(*keepc, F.expr(self_unit).alias("_u"))
    nch = f"cast(ceil(size({arr}) / cast({chunk} as double)) as int)"
    units_expr = (
        f"CASE WHEN size({arr}) <= {cap} THEN array({self_unit}) ELSE "
        f"flatten(transform(sequence(0, {nch} - 1), ca -> "
        f"transform(sequence(ca, {nch} - 1), cb -> named_struct("
        f"'xs', slice({arr}, ca * {chunk} + 1, {chunk}), "
        f"'ys', slice({arr}, cb * {chunk} + 1, {chunk}), "
        f"'diag', ca = cb)))) END")
    npart = baskets.sparkSession.sparkContext.defaultParallelism
    # get() not [0]: a self unit's ys is empty and ANSI indexing errors
    return (baskets.select(*keepc, F.explode(F.expr(units_expr))
                           .alias("_u"))
            .repartition(npart, F.xxhash64(*keepc,
                                           F.get(F.col("_u.xs"), 0),
                                           F.get(F.col("_u.ys"), 0))))


def guarded_pair_explode(baskets: DataFrame, arr: str = "ps",
                         a: str = "pa", b: str = "pb",
                         keep: tuple[str, ...] = (),
                         cap: int = _PAIR_CAP,
                         chunk: int = _PAIR_CHUNK) -> DataFrame:
    """All strict ``a < b`` element pairs per basket — the r10
    basket-array pair build with the hot-basket guard.

    Output: one row per (basket, unordered pair) — ``keep`` columns
    passed through plus ``a``/``b`` — an EXACT multiset match of the
    unguarded ``pair_list_expr`` explode (and of the pre-r10
    distinct + self-join) for any cap/chunk.  One explode over the
    units of :func:`basket_units`, which requires ``baskets`` pinned
    and picks the in-place or the spread shape from what it observed."""
    keepc = [F.col(c) for c in keep]
    cross = (f"flatten(transform(_u.xs, x -> transform(_u.ys, "
             f"y -> named_struct('{a}', x, '{b}', y))))")
    diag_u = pair_list_expr("_u.xs", a, b)
    return (basket_units(baskets, arr, keep, cap, chunk)
            .select(*keepc, F.explode(F.expr(
                f"CASE WHEN _u.diag THEN {diag_u} ELSE {cross} END"))
                .alias("_pr"))
            .select(*keepc, F.col(f"_pr.{a}").alias(a),
                    F.col(f"_pr.{b}").alias(b)))


def salted_join(left: DataFrame, right: DataFrame, key: str,
                n_salts: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join with the LEFT side salted (use when left's key
    distribution is skewed and right is too large to broadcast).

    left rows get salt = hash(full row key) % n_salts — deterministic;
    right rows are replicated across all salts.  The shuffle key becomes
    (key, salt): a hot key now spreads over n_salts reducers instead of
    one.  Cost: right side is written n_salts×; choose n_salts ≈ the
    observed hot-key multiplier."""
    lsalt = (F.abs(F.xxhash64(*left.columns)) % n_salts).alias("_salt")
    l = left.select("*", lsalt)
    r = right.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("_salt"))
    out = l.join(r, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def salted_agg(df: DataFrame, key_cols: list[str], aggs: dict[str, str],
               n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed keys: phase 1 aggregates
    (key, salt) partitions, phase 2 merges per key.

    ``aggs`` maps column → one of sum|count|min|max (combinable only;
    avg must be decomposed to sum+count by the caller).  Note Spark's
    hash aggregate already does map-side partial aggregation — explicit
    salting only helps when a single reduce key overflows one task even
    after partials (e.g. extreme cardinality-1 groups with collect-like
    state).  Provided for those cases; measure before using."""
    salt = (F.abs(F.xxhash64(*[F.col(c) for c in df.columns])) % n_salts).alias("_salt")
    phase1_aggs = []
    for col, fn in aggs.items():
        if fn == "count":
            phase1_aggs.append(F.count(F.lit(1)).alias(f"_p_{col}"))
        elif fn in ("sum", "min", "max"):
            phase1_aggs.append(getattr(F, fn)(col).alias(f"_p_{col}"))
        else:
            raise ValueError(f"non-combinable aggregate: {fn}")
    p1 = df.select("*", salt).groupBy(*key_cols, "_salt").agg(*phase1_aggs)
    phase2_aggs = []
    for col, fn in aggs.items():
        merge = "sum" if fn in ("count", "sum") else fn
        phase2_aggs.append(getattr(F, merge)(f"_p_{col}").alias(f"{fn}_{col}"))
    return p1.groupBy(*key_cols).agg(*phase2_aggs)


def write_bucketed(df: DataFrame, table_name: str, key: str,
                   n_buckets: int = 32, sort: bool = True) -> None:
    """Persist bucketed+sorted by the join/merge key.  Two tables
    bucketed the same way join with zero Exchange — the co-located-join
    layout for recurring snapshot↔changelog merges."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table_name)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchanges in the physical plan — the metric the
    bucketing layout is meant to drive to zero (used by tests)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")
