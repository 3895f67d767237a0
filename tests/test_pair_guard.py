"""Size-guarded basket-array pair builds (r11, VERDICT r10 #4).

The guard must (a) reproduce the EXACT pair multiset of the unguarded
in-map i<j explode for any cap/chunk, and (b) actually spread a hot
basket's quadratic pair fan-out across tasks instead of concentrating
it in one (the straggler/OOM hazard the guard exists for).
"""

import itertools
import logging

import pytest
from pyspark.sql import functions as F

from storagetapper_spark.operators.pin import pin, release
from storagetapper_spark.operators.skew import (
    basket_units,
    guarded_pair_explode,
    pair_list_expr,
)


def _baskets(spark, rows):
    # the guard reads a pinned basket table (operators/skew.basket_units)
    return pin(spark.createDataFrame(rows, "k int, ps array<int>"))


def test_basket_units_rejects_a_basket_table_that_is_not_pinned(spark):
    rows = [(1, [1, 2, 3])]
    lazy = spark.createDataFrame(rows, "k int, ps array<int>")
    gone = _baskets(spark, rows)
    release(gone)
    for baskets in (lazy, _baskets(spark, rows).select("k", "ps"), gone):
        with pytest.raises(ValueError, match="not a live pin"):
            basket_units(baskets, "ps", keep=("k",))


def test_guarded_pairs_exact_multiset(spark):
    # mixed sizes straddling the cap, incl. singleton (no pairs) and a
    # basket whose size is not a chunk multiple
    rows = [(1, list(range(10))), (2, list(range(137))),
            (3, [5, 9]), (4, [7]), (5, list(range(64, 130)))]
    out = guarded_pair_explode(_baskets(spark, rows), "ps", "pa", "pb",
                               keep=("k",), cap=32, chunk=10)
    got = sorted((r.k, r.pa, r.pb) for r in out.collect())
    exp = sorted((k, a, b) for k, v in rows
                 for a, b in itertools.combinations(sorted(set(v)), 2))
    assert got == exp


def test_guarded_pairs_match_unguarded_explode(spark):
    rows = [(i, list(range(i, i + 50))) for i in range(20)]
    df = _baskets(spark, rows)
    unguarded = (df.select("k", F.explode(
        F.expr(pair_list_expr("ps", "pa", "pb"))).alias("_pr"))
        .select("k", "_pr.pa", "_pr.pb"))
    guarded = guarded_pair_explode(df, "ps", "pa", "pb", keep=("k",),
                                   cap=16, chunk=8)
    assert guarded.exceptAll(unguarded).count() == 0
    assert unguarded.exceptAll(guarded).count() == 0


def test_hot_basket_pairs_spread_across_tasks(spark):
    # VERDICT r10 #4 "done" case: ONE basket with 10^4 members must not
    # put its ~5x10^7 pairs through a single task.  Count pairs per
    # partition right after the guarded explode; the hot basket must
    # occupy several partitions with a bounded per-partition share.
    n = 10_000
    df = _baskets(spark, [(1, list(range(n)))])
    out = guarded_pair_explode(df, "ps", "pa", "pb", chunk=512)
    per_part = (out.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count(F.lit(1)).alias("c")).collect())
    total = sum(r.c for r in per_part)
    assert total == n * (n - 1) // 2
    # chunked units bound per-task fan-out: with chunk=512 no partition
    # can exceed (units landing there) * 512^2; assert the hot basket
    # spread over >1 task and the max share is far below "all in one"
    assert len(per_part) > 1
    assert max(r.c for r in per_part) < 0.5 * total


def test_unit_decomposition_covers_every_pair_once(spark):
    # basket_units' chunk-pair units: every strict i<j pair appears in
    # exactly ONE unit (diag chunk or one (ca<cb) cross unit)
    rows = [(1, list(range(100)))]
    units = basket_units(_baskets(spark, rows), "ps",
                         keep=("k",), cap=10, chunk=16)
    got = units.select(
        "k", F.explode(F.expr(
            "CASE WHEN _u.diag THEN " + pair_list_expr("_u.xs", "a", "b")
            + " ELSE flatten(transform(_u.xs, x -> transform(_u.ys, "
            "y -> named_struct('a', x, 'b', y)))) END")).alias("p")
    ).select("p.a", "p.b").collect()
    pairs = [(r.a, r.b) for r in got]
    assert len(pairs) == len(set(pairs)) == 100 * 99 // 2
    assert all(a < b for a, b in pairs)


@pytest.mark.parametrize("cap,chunk", [(3, 2), (5, 5), (7, 3)])
def test_guard_exact_at_tiny_caps(spark, cap, chunk):
    rows = [(1, [1, 2, 3, 4, 5, 6, 7, 8]), (2, [10, 11, 12])]
    out = guarded_pair_explode(_baskets(spark, rows), "ps", "pa", "pb",
                               keep=("k",), cap=cap, chunk=chunk)
    got = sorted((r.k, r.pa, r.pb) for r in out.collect())
    exp = sorted((k, a, b) for k, v in rows
                 for a, b in itertools.combinations(v, 2))
    assert got == exp


@pytest.mark.parametrize("rows,max_basket,n_over", [
    # every basket <= cap: in-place explode, no spread exchange
    ([(1, [1, 2, 3, 4, 5, 6, 7, 8]), (2, [10, 11, 12]), (4, [7]),
      (5, [])], 8, 0),
    # one basket > cap: every unit rides the xxhash64 spread
    ([(1, [1, 2, 3, 4, 5, 6, 7, 8]), (2, [10, 11, 12]),
      (3, list(range(100, 120))), (4, [7]), (5, [])], 20, 1),
], ids=["all_within_cap", "one_over_cap"])
def test_guard_observes_and_picks_shape(spark, caplog, rows, max_basket,
                                        n_over):
    # the one pair-guard rule: basket_units reads the pinned baskets'
    # largest basket and over-cap count in one action (logged), and
    # spreads units only when some basket exceeds the cap
    caplog.set_level(logging.INFO,
                     logger="storagetapper_spark.operators.skew")
    out = guarded_pair_explode(_baskets(spark, rows), "ps", "pa", "pb",
                               keep=("k",), cap=10, chunk=4)
    got = sorted((r.k, r.pa, r.pb) for r in out.collect())
    exp = sorted((k, a, b) for k, v in rows
                 for a, b in itertools.combinations(v, 2))
    assert got == exp
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("xxhash64" in plan) == (n_over > 0)
    assert (f"pair guard on ps: max basket {max_basket}, "
            f"{n_over} over cap 10") in caplog.text


def test_copurchase_pairs_match_python_combinations(spark, tmp_path):
    """plans.common: order_baskets + copurchase_pairs count, per strict
    pa < pb part pair, the orders holding both — duplicate lines of a
    part within one order count once (the oracles' DISTINCT)."""
    from collections import Counter

    from storagetapper_spark.plans.common import (copurchase_pairs,
                                                  order_baskets)

    lines = [(1, 30), (1, 10), (1, 20), (1, 10),  # dup line for part 10
             (2, 20), (2, 10), (3, 30), (3, 20), (3, 10), (3, 40),
             (4, 50), (5, 40), (5, 30)]
    (spark.createDataFrame(lines, "l_orderkey long, l_partkey long")
     .write.parquet(str(tmp_path / "lineitem.parquet")))
    got = {(r.pa, r.pb): r.n_ab for r in
           copurchase_pairs(order_baskets(spark, str(tmp_path))).collect()}
    per_order = {}
    for o, p in lines:
        per_order.setdefault(o, set()).add(p)
    want = Counter(pair for parts in per_order.values()
                   for pair in itertools.combinations(sorted(parts), 2))
    assert got == dict(want)
