"""Streaming SPRT: incremental folding across ts-ordered micro-batches
equals the one-shot fold AND agrees with the batch backtest query
(stats_sprt_ab), decisions freeze once made, and the real availableNow
sink run lands the same state."""

from pyspark.sql import functions as F

from storagetapper_spark.plans.common import events_t
from storagetapper_spark.plans.registry import QUERIES
from storagetapper_spark.streaming.sprt import (
    fold_sprt_batch,
    read_decisions,
    sprt_sink,
    trials_from_events,
)


def _batches(trials, n=4):
    cuts = trials.approxQuantile("event_id", [i / n for i in range(1, n)],
                                 0.0)
    bounds = [float("-inf")] + cuts + [float("inf")]
    # event_id is assigned in ts order in the fixture, so id-range
    # batches are ts-ordered — the arrival order a sequential test reads
    return [trials.filter((F.col("event_id") > lo)
                          & (F.col("event_id") <= hi))
            for lo, hi in zip(bounds, bounds[1:])]


def _key(rows):
    return {r.arm: (r.s, r.f, r.decision, r.n_at_decision,
                    r.s_at_decision) for r in rows}


def test_incremental_equals_one_shot_and_batch_query(spark, sf_dir):
    ev = events_t(spark, sf_dir)
    trials = trials_from_events(ev)
    state = None
    for b in _batches(trials):
        state = fold_sprt_batch(state, b)
    got = _key(state.collect())
    want = _key(fold_sprt_batch(None, trials).collect())
    assert got == want

    # and the frozen decisions equal the batch backtest query's
    bq = {r.arm: (r.n_trials, r.n_success, r.decision, r.n_at_decision,
                  r.s_at_decision)
          for r in QUERIES["stats_sprt_ab"](spark, sf_dir).collect()}
    for arm, (s, f, dec, nad, sad) in got.items():
        n_trials, n_success, bdec, bnad, bsad = bq[arm]
        assert (s + f, s) == (n_trials, n_success)
        assert (dec or "continue") == bdec
        assert nad == bnad and sad == bsad


def test_decision_freezes_after_crossing(spark, sf_dir):
    ev = events_t(spark, sf_dir)
    trials = trials_from_events(ev)
    b1, b2, b3, b4 = _batches(trials)
    s2 = fold_sprt_batch(fold_sprt_batch(None, b1), b2)
    decided = {r.arm: (r.decision, r.n_at_decision, r.s_at_decision)
               for r in s2.collect() if r.decision is not None}
    assert decided, "fixture should cross within the first half"
    s4 = fold_sprt_batch(fold_sprt_batch(s2, b3), b4)
    for r in s4.collect():
        if r.arm in decided:
            assert (r.decision, r.n_at_decision,
                    r.s_at_decision) == decided[r.arm]
            assert r.s + r.f > r.n_at_decision  # counters kept moving


def test_availablenow_sink_run(spark, sf_dir, tmp_path, assert_only_current):
    src = str(tmp_path / "src")
    events_t(spark, sf_dir).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    q = sprt_sink(stream, str(tmp_path / "state"),
                  str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = _key(read_decisions(spark, str(tmp_path / "state")).collect())
    ev = events_t(spark, sf_dir)
    want = _key(fold_sprt_batch(None, trials_from_events(ev)).collect())
    assert got == want
    assert_only_current(str(tmp_path / "state" / "sprt"), 0)
