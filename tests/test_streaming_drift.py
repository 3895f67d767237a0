"""Streaming drift monitor: grid-count state folds are exactly
additive (incremental == one-shot), the KS evaluated from folded state
equals the batch query's KS, and a real availableNow sink run lands
the same state."""

from pyspark.sql import functions as F

from storagetapper_spark.plans.common import t
from storagetapper_spark.plans.registry import QUERIES
from storagetapper_spark.streaming.drift import (
    drift_sink,
    fold_grid_batch,
    grid_counts,
    ks_from_state,
    read_live_grid,
)


def _features(df):
    return {
        "quantity": F.col("l_quantity"),
        "price_cents": F.round(F.col("l_extendedprice") * 100),
        "discount_pct": F.round(F.col("l_discount") * 100),
    }


def _grid_key(rows):
    return {(r.feat, r.v): r.c for r in rows}


def test_incremental_grid_fold_equals_one_shot(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1996)
    batches = [li.filter(F.col("l_orderkey") % 3 == i) for i in range(3)]
    state = None
    for b in batches:
        state = fold_grid_batch(state, grid_counts(b, _features(b)))
    got = _grid_key(state.collect())
    want = _grid_key(grid_counts(li, _features(li)).collect())
    assert got == want


def test_ks_from_state_matches_batch_query(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    ref = grid_counts(li.filter(F.year("l_shipdate") == 1995),
                      _features(li))
    live = None
    liv_src = li.filter(F.year("l_shipdate") == 1996)
    for i in range(3):
        b = liv_src.filter(F.col("l_orderkey") % 3 == i)
        live = fold_grid_batch(live, grid_counts(b, _features(b)))
    got = {r.feat: (r.n_a, r.n_b, r.ks_d_micro, r.at_value)
           for r in ks_from_state(ref, live).collect()}
    want = {r.feat: (r.n_a, r.n_b, r.ks_d_micro, r.at_value)
            for r in QUERIES["drift_ks_by_feature"](spark, sf_dir)
            .collect()}
    assert got == want


def test_availablenow_drift_sink(spark, sf_dir, tmp_path, assert_only_current):
    li = t(spark, sf_dir, "lineitem")
    src = str(tmp_path / "src")
    li.filter(F.year("l_shipdate") == 1996).write.mode("overwrite") \
      .parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    ref = grid_counts(li.filter(F.year("l_shipdate") == 1995),
                      _features(li))
    q = drift_sink(stream, ref, _features, str(tmp_path / "state"),
                   str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    live = read_live_grid(spark, str(tmp_path / "state"))
    got = _grid_key(live.collect())
    want = _grid_key(grid_counts(
        li.filter(F.year("l_shipdate") == 1996), _features(li))
        .collect())
    assert got == want
    assert_only_current(str(tmp_path / "state" / "drift"), 0)
