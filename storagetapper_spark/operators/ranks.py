"""Two-pass global ranking — exact rank/ntile/percent_rank/cume_dist
over a TOTAL ordering without an unpartitioned window over the data.

The naive form `Window.partitionBy(<low-cardinality>).orderBy(...)` (or
no partition at all) funnels the whole corpus through one task per
partition value — a ~33 TB single-task sort at 100 TB.  The scale-safe
classic is the two-pass rank:

1. range-bucket rows by an expression MONOTONE in the leading sort key
   (equal keys must share a bucket, so bucket order followed by
   in-bucket order is exactly the total order);
2. pass 1: `row_number` per (partition, bucket) — parallel across
   buckets;
3. pass 2: per-bucket counts -> running carry-in offsets, a window over
   #partitions x #buckets rows (thousands at worst, never the data),
   broadcast-joined back.  rank = offset + local row_number.

Because callers use a total ordering (PK tiebreak), every row is its
own peer group, so percent_rank = (rank-1)/(n-1) and cume_dist =
rank/n are exact, and ntile is the standard ceil/floor split computed
arithmetically from rank — bit-identical to the window-function forms.

Used by `window_distribution` (plans/timeseries3.py) and
`rfm_segments` (plans/relational10.py); pattern shared with the
`peak_concurrency` two-pass sweep line (plans/relational10.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["two_pass_rank", "ntile_from_rank", "quantile_buckets"]


def two_pass_rank(df: DataFrame, order: Sequence[Column | str],
                  bucket: Column,
                  partition: Sequence[str] = ()) -> DataFrame:
    """Append `_rank` (1-based global row_number within `partition`
    under the total ordering `order`) and `_n` (partition row count).

    `bucket` MUST be monotone non-decreasing in the leading sort key
    and map equal keys to equal buckets (e.g. `floor(key / width)` for
    an ascending sort, `-key` or `floor(-key / width)` for descending).
    Internal columns `_b`, `_rn`, `_off` are dropped from the result.

    `df` is read TWICE (local ranks + bucket counts).  For a raw
    column-pruned scan that is the right trade at any scale (scanning
    twice beats caching a corpus); but when the input lineage is
    expensive (aggregations, windows, a previous rank pass), pass a
    pinned frame (operators/pin) — and NEVER chain rank passes on each
    other's output (each link doubles the planned lineage; rank
    independent passes over one pinned input and join, as
    rfm_segments does).
    """
    part = list(partition)
    b = df.withColumn("_b", bucket)
    loc_w = Window.partitionBy(*part, "_b").orderBy(*order)
    loc = b.withColumn("_rn", F.row_number().over(loc_w))
    cnt = b.groupBy(*part, "_b").agg(F.count(F.lit(1)).alias("_c"))
    off_w = (Window.partitionBy(*part).orderBy("_b")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = cnt.withColumn("_off",
                          F.coalesce(F.sum("_c").over(off_w), F.lit(0)))
    tot = cnt.groupBy(*part).agg(F.sum("_c").alias("_n")) if part \
        else cnt.agg(F.sum("_c").alias("_n"))
    out = loc.join(F.broadcast(offs.select(*part, "_b", "_off")),
                   [*part, "_b"])
    out = out.join(F.broadcast(tot), part) if part \
        else out.crossJoin(F.broadcast(tot))
    return (out.withColumn("_rank", F.col("_off") + F.col("_rn"))
            .drop("_b", "_rn", "_off"))


def ntile_from_rank(rank: Column, n: Column, tiles: int) -> Column:
    """`ntile(tiles)` derived from a 1-based rank over `n` rows: the
    first `n % tiles` tiles get `ceil(n/tiles)` rows, the rest get
    `floor(n/tiles)` — Spark's (and DuckDB's) exact split.  The
    `otherwise` branch never divides by zero: q = 0 implies r = n, so
    every rank satisfies the first condition."""
    q, r = F.floor(n / tiles), n % tiles
    return (F.when(rank <= r * (q + 1), F.ceil(rank / (q + 1)))
            .otherwise(r + F.ceil((rank - r * (q + 1)) / q))
            .cast("int"))


def quantile_buckets(df: DataFrame, col: str, n_buckets: int = 64,
                     rel_err: float = 0.001) -> Column:
    """A bucket expression for `two_pass_rank` whose buckets hold
    roughly equal row counts regardless of the data distribution — the
    100 TB form the fixed-width callers reference: fixed width degrades
    when the sort key is skewed (one hot bucket re-creates the
    single-task sort), quantile cutpoints cannot.

    One `approxQuantile` pass computes n_buckets-1 cutpoints (a
    bounded driver-side list, broadcast into the expression); bucket =
    count of cutpoints strictly below the value, which is monotone in
    the sort key and maps equal keys to equal buckets — exactly the
    contract `two_pass_rank` requires, so exactness is unaffected by
    the approximation (only balance is approximate)."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = sorted(set(df.approxQuantile(col, probs, rel_err)))
    out: Column = F.lit(0)
    for c in cuts:
        out = out + (F.col(col) > F.lit(c)).cast("int")
    return out


def exact_percentiles(df: DataFrame, value_col: str,
                      probs: Sequence[float], bucket: Column,
                      partition: Sequence[str] = ()) -> DataFrame:
    """EXACT interpolated percentiles (percentile_cont semantics —
    identical to Spark's `percentile()` and DuckDB's `quantile_cont`)
    computed via two-pass rank instead of a per-group sort.

    `percentile()` sorts every group inside one task — the scale
    ceiling the approx twins dodge by giving up exactness.  This keeps
    exactness: rank the values with `two_pass_rank` (parallel across
    range buckets), then for each prob p take the rows at positions
    floor/ceil of 1 + p*(n-1) and interpolate.  Only the O(#probs)
    boundary rows per partition survive the filter, so the final
    aggregate is tiny.  Ties need no tiebreak: any total order
    extending value-order puts the same VALUE at the k-th position.

    Returns one row per partition key with a `p_<prob>` double column
    per requested prob (dots stripped, e.g. p_0_5)."""
    part = list(partition)
    ranked = two_pass_rank(df.select(*part, value_col),
                           [F.col(value_col).asc()], bucket,
                           partition=part)
    v, n, rank = F.col(value_col), F.col("_n"), F.col("_rank")
    keep = F.lit(False)
    for p in probs:
        pos = 1 + F.lit(p) * (n - 1)
        lo = F.floor(pos)
        keep = keep | (rank == lo) | (rank == lo + 1)
    boundary = ranked.where(keep)
    aggs = [F.max(n).alias("_nn")]
    for i, p in enumerate(probs):
        pos = 1 + F.lit(p) * (n - 1)
        lo = F.floor(pos)
        aggs.append(F.max(F.when(rank == lo, v)).alias(f"_vlo_{i}"))
        aggs.append(F.max(F.when(rank == lo + 1, v)).alias(f"_vhi_{i}"))
    grouped = boundary.groupBy(*part) if part else boundary.groupBy()
    agged = grouped.agg(*aggs)
    sel: list[Column] = [F.col(c) for c in part]
    for i, p in enumerate(probs):
        pos = 1 + F.lit(p) * (F.col("_nn") - 1)
        frac = pos - F.floor(pos)
        v_lo, v_hi = F.col(f"_vlo_{i}"), F.col(f"_vhi_{i}")
        name = f"p_{str(p).replace('.', '_')}"
        sel.append((v_lo + frac * (F.coalesce(v_hi, v_lo) - v_lo))
                   .alias(name))
    return agged.select(*sel)
