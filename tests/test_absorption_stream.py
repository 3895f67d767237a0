"""Streaming absorption state: stream == batch bit-exactness against
the REGISTERED events_absorption_funnel query — under BOTH a
user-keyed split (no transition straddles a batch; the pre-round-8
contract) and a TIME-ordered split (users straddle batch boundaries;
the boundary-carry last-event state must recover every straddling
pair) — plus replay idempotence and probability bounds on the served
rows."""

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from storagetapper_spark import statefs
from storagetapper_spark.plans.common import events_t
from storagetapper_spark.plans.registry import QUERIES
from storagetapper_spark.streaming import absorption as AB


def test_streamed_absorption_equals_registered_batch_query(spark, sf_dir,
                                                           tmp_path):
    state = str(tmp_path / "ab")
    ev = events_t(spark, sf_dir)
    for i in range(3):
        AB.ingest_batch(spark, ev.filter(F.col("user_id") % 3 == i),
                        i, state)
    got = sorted(tuple(r) for r in
                 AB.current_absorption(spark, state).collect())
    want = sorted(tuple(r) for r in
                  QUERIES["events_absorption_funnel"](spark,
                                                      sf_dir).collect())
    assert got == want


def test_time_split_batches_equal_batch_query(spark, sf_dir, tmp_path):
    """The round-8 ADVICE scenario: a realistic time-ordered feed where
    one user's consecutive events land in different micro-batches.  The
    carried last-event state must emit every straddling (src, dst)
    pair, so the folded stream state equals the registered batch query
    bit-exactly — the old per-batch lead() silently undercounted."""
    state = str(tmp_path / "ab_time")
    ev = events_t(spark, sf_dir)
    c1, c2 = ev.selectExpr(
        "CAST(percentile_cont(0.33) WITHIN GROUP (ORDER BY unix_micros(ts))"
        " AS BIGINT) AS a",
        "CAST(percentile_cont(0.66) WITHIN GROUP (ORDER BY unix_micros(ts))"
        " AS BIGINT) AS b").collect()[0]
    us = F.unix_micros(F.col("ts"))
    parts = [ev.filter(us <= c1),
             ev.filter((us > c1) & (us <= c2)),
             ev.filter(us > c2)]
    for i, p in enumerate(parts):
        AB.ingest_batch(spark, p, i, state)
    got = sorted(tuple(r) for r in
                 AB.current_absorption(spark, state).collect())
    want = sorted(tuple(r) for r in
                  QUERIES["events_absorption_funnel"](spark,
                                                      sf_dir).collect())
    assert got == want


def test_time_split_replay_idempotent(spark, sf_dir, tmp_path):
    """Redelivering a mid-stream batch recomputes the identical delta:
    the boundary join reads only partitions _batch < k, which a replay
    of batch k never rewrites."""
    state = str(tmp_path / "ab_replay")
    ev = events_t(spark, sf_dir)
    c1 = ev.selectExpr(
        "CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY unix_micros(ts))"
        " AS BIGINT)").collect()[0][0]
    us = F.unix_micros(F.col("ts"))
    early, late = ev.filter(us <= c1), ev.filter(us > c1)
    AB.ingest_batch(spark, early, 0, state)
    AB.ingest_batch(spark, late, 1, state)
    before = sorted(tuple(r) for r in
                    AB.current_transitions(spark, state).collect())
    AB.ingest_batch(spark, late, 1, state)  # at-least-once redelivery
    after = sorted(tuple(r) for r in
                   AB.current_transitions(spark, state).collect())
    assert after == before


def test_compaction_preserves_boundary_and_results(spark, sf_dir,
                                                   tmp_path):
    """compact_last_events folds the committed last-event partitions
    into one; later ingests see the identical per-user fold, so the
    final absorption table matches an uncompacted run bit-exactly."""
    ev = events_t(spark, sf_dir)
    c1, c2 = ev.selectExpr(
        "CAST(percentile_cont(0.33) WITHIN GROUP (ORDER BY unix_micros(ts))"
        " AS BIGINT) AS a",
        "CAST(percentile_cont(0.66) WITHIN GROUP (ORDER BY unix_micros(ts))"
        " AS BIGINT) AS b").collect()[0]
    us = F.unix_micros(F.col("ts"))
    parts = [ev.filter(us <= c1),
             ev.filter((us > c1) & (us <= c2)),
             ev.filter(us > c2)]
    plain, compacted = str(tmp_path / "plain"), str(tmp_path / "comp")
    for i, p in enumerate(parts):
        AB.ingest_batch(spark, p, i, plain)
    AB.ingest_batch(spark, parts[0], 0, compacted)
    AB.ingest_batch(spark, parts[1], 1, compacted)
    AB.compact_last_events(spark, compacted, upto_batch=1)
    AB.ingest_batch(spark, parts[2], 2, compacted)
    got = sorted(tuple(r) for r in
                 AB.current_absorption(spark, compacted).collect())
    want = sorted(tuple(r) for r in
                  AB.current_absorption(spark, plain).collect())
    assert got == want
    # the folded state is one partition, bounded by |users|
    import os
    last = os.path.join(compacted, "last_events")
    parts_on_disk = sorted(d for d in os.listdir(last)
                           if d.startswith("_batch="))
    assert parts_on_disk == ["_batch=1", "_batch=2"]


def test_replay_idempotent_and_bounds(spark, sf_dir, tmp_path):
    state = str(tmp_path / "ab")
    ev = events_t(spark, sf_dir)
    first = ev.filter(F.col("user_id") % 3 == 0)
    AB.ingest_batch(spark, first, 0, state)
    before = sorted(tuple(r) for r in
                    AB.current_transitions(spark, state).collect())
    AB.ingest_batch(spark, first, 0, state)  # at-least-once redelivery
    after = sorted(tuple(r) for r in
                   AB.current_transitions(spark, state).collect())
    assert after == before
    for r in AB.current_absorption(spark, state).collect():
        assert 0 <= r.one_step_nano <= r.absorb_8_nano <= 1_000_000_000


def _quarters(spark, sf_dir):
    """The events split by time into four batches: users straddle
    every boundary."""
    ev = events_t(spark, sf_dir)
    c = ev.selectExpr(*[
        f"CAST(percentile_cont({q}) WITHIN GROUP (ORDER BY unix_micros(ts))"
        f" AS BIGINT)" for q in (0.25, 0.5, 0.75)]).collect()[0]
    us = F.unix_micros(F.col("ts"))
    return [ev.filter(us <= c[0]), ev.filter((us > c[0]) & (us <= c[1])),
            ev.filter((us > c[1]) & (us <= c[2])), ev.filter(us > c[2])]


@pytest.mark.parametrize("target,name,after", [
    (DataFrameWriter, "parquet", 0),   # the fold write
    (statefs, "rmtree", 0),            # the first partition delete
    (statefs, "rmtree", 1),            # the second partition delete
], ids=["fold_write", "rmtree_1", "rmtree_2"])
def test_compaction_crash_loses_no_last_event(spark, sf_dir, tmp_path,
                                              monkeypatch, target, name,
                                              after):
    """A crash inside compact_last_events leaves last events the
    per-user fold still sees: ingest continues and ends equal to an
    uncompacted run."""
    parts = _quarters(spark, sf_dir)
    plain, crashed = str(tmp_path / "plain"), str(tmp_path / "crashed")
    for i, p in enumerate(parts):
        AB.ingest_batch(spark, p, i, plain)
    for i, p in enumerate(parts[:3]):
        AB.ingest_batch(spark, p, i, crashed)
    real, calls = getattr(target, name), []

    def crashing(*a, **k):
        calls.append(a)
        if len(calls) > after:
            raise RuntimeError(f"crash in {name}")
        return real(*a, **k)
    monkeypatch.setattr(target, name, crashing)
    with pytest.raises(RuntimeError):
        AB.compact_last_events(spark, crashed, upto_batch=2)
    monkeypatch.undo()
    AB.ingest_batch(spark, parts[3], 3, crashed)
    got = sorted(tuple(r) for r in
                 AB.current_transitions(spark, crashed).collect())
    want = sorted(tuple(r) for r in
                  AB.current_transitions(spark, plain).collect())
    assert got == want
