"""statefs.commit_state / committed_batch: the state-table commit
protocol every stateful foreachBatch sink shares.  Each crash window is
rebuilt on disk by hand — a complete or incomplete version with or
without ``current`` — and the next call must leave ``current`` holding
a whole state (never empty or partial) and the directory holding only
``current``."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from storagetapper_spark import statefs
from storagetapper_spark.statefs import commit_state, committed_batch


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk long, val string")


def _data_files(path):
    return [n for n in os.listdir(path) if n.endswith(".parquet")]


def test_commit_promotes_and_marks(spark, tmp_path, assert_only_current):
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    assert committed_batch(cur) == -1
    assert commit_state(_df(spark, [(1, "a"), (2, "b")]), cur, 0)
    assert commit_state(_df(spark, [(1, "a2")]), cur, 1)
    assert _rows(spark, cur) == [(1, "a2")]
    assert committed_batch(cur) == 1
    assert_only_current(table, 1)


def test_replayed_batch_is_a_noop(spark, tmp_path, assert_only_current):
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    assert commit_state(_df(spark, [(1, "a")]), cur, 5)
    # the replay of batch 5, or any older batch, writes nothing
    assert not commit_state(_df(spark, [(9, "replayed")]), cur, 5)
    assert not commit_state(_df(spark, [(9, "older")]), cur, 4)
    assert _rows(spark, cur) == [(1, "a")]
    assert_only_current(table, 5)


def test_seeded_table_has_no_marker(spark, tmp_path, assert_only_current):
    """A table seeded by a plain Spark write (the snapshot handoff)
    records no batch, so the stream's batch 0 applies on top of it."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    _df(spark, [(1, "snap")]).write.parquet(cur)
    assert committed_batch(cur) == -1
    assert commit_state(_df(spark, [(1, "snap"), (2, "b")]), cur, 0)
    assert_only_current(table, 0)


def test_crash_before_promote_recovers_complete_version(spark, tmp_path,
                                                       assert_only_current):
    """Crash after the version was written but before it became
    current, with current already deleted (an object-store promote) or
    moved aside (a local promote): the complete version is promoted."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    commit_state(_df(spark, [(1, "a")]), cur, 2)
    os.rename(cur, os.path.join(table, "current.old"))
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(os.path.join(table, "v3"))
    assert committed_batch(cur) == 3
    assert _rows(spark, cur) == [(1, "a"), (2, "b")]
    assert_only_current(table, 3)
    # and the replay of batch 3 now finds it applied
    assert not commit_state(_df(spark, [(9, "x")]), cur, 3)


def test_crash_mid_copy_recovers_complete_version(spark, tmp_path,
                                                  assert_only_current):
    """Crash part-way through an object-store copy: current exists but
    holds a partial table without the new marker; the complete version
    still exists and wins."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    commit_state(_df(spark, [(1, "a")]), cur, 0)
    v1 = os.path.join(table, "v1")
    _df(spark, [(1, "a"), (2, "b"), (3, "c")]).repartition(3).write.parquet(v1)
    shutil.copy(os.path.join(v1, _data_files(v1)[0]), cur)
    assert committed_batch(cur) == 1
    assert _rows(spark, cur) == [(1, "a"), (2, "b"), (3, "c")]
    assert_only_current(table, 1)


def test_incomplete_version_is_ignored_and_removed(spark, tmp_path,
                                                   assert_only_current):
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    commit_state(_df(spark, [(1, "a")]), cur, 3)
    v4 = os.path.join(table, "v4")
    _df(spark, [(1, "torn")]).write.parquet(v4)
    os.remove(os.path.join(v4, "_SUCCESS"))
    assert committed_batch(cur) == 3
    assert _rows(spark, cur) == [(1, "a")]
    assert_only_current(table, 3)
    # the replayed batch 4 then commits normally
    assert commit_state(_df(spark, [(1, "b")]), cur, 4)
    assert _rows(spark, cur) == [(1, "b")]


def test_incomplete_first_version_leaves_no_state(spark, tmp_path):
    """Crash while writing the very first version: there is no state
    yet, and a torn version must not become one."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    v0 = os.path.join(table, "v0")
    _df(spark, [(1, "torn")]).write.parquet(v0)
    os.remove(os.path.join(v0, "_SUCCESS"))
    assert committed_batch(cur) == -1
    assert os.listdir(table) == []


def test_stale_versions_and_other_tables_are_left_alone(spark, tmp_path):
    """Recovery removes only this table's leftovers: an already-applied
    version goes, a sibling table (gtid_current) and its versions and
    unrelated directories stay."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    commit_state(_df(spark, [(1, "a")]), cur, 2)
    _df(spark, [(1, "old")]).write.parquet(os.path.join(table, "v1"))
    _df(spark, [(1, "g")]).write.parquet(os.path.join(table, "gtid_v7"))
    os.makedirs(os.path.join(table, "unmonitored"))
    assert committed_batch(cur) == 2
    assert sorted(os.listdir(table)) == ["current", "gtid_v7", "unmonitored"]
    gcur = os.path.join(table, "gtid_current")
    assert committed_batch(gcur) == 7
    assert _rows(spark, gcur) == [(1, "g")]
    assert sorted(os.listdir(table)) == ["current", "gtid_current",
                                         "unmonitored"]


def test_commit_keeps_current_compact(spark, tmp_path):
    """The single write is coalesced to ⌈previous bytes /
    maxPartitionBytes⌉ files — one file for small state, however many
    partitions the frame has."""
    cur = str(tmp_path / "t" / "current")
    _df(spark, [(i, "x") for i in range(40)]).repartition(4).write.parquet(cur)
    assert len(_data_files(cur)) == 4
    commit_state(_df(spark, [(i, "y") for i in range(40)]).repartition(4),
                 cur, 0)
    assert len(_data_files(cur)) == 1
    assert len(_rows(spark, cur)) == 40


# Bucketed tables: ``_b4`` gives a frame the ``_bucket`` column of a
# four-bucket table.  A crash is injected by making the n-th call of a
# statefs step raise, then the next committed_batch must finish the
# commit.

def _b4(df):
    return df.withColumn("_bucket", F.pmod(F.xxhash64("pk"), F.lit(4)))


def _crash(monkeypatch, step, after):
    """Make statefs.<step> raise on its call number ``after + 1``."""
    real, calls = getattr(statefs, step), []

    def crashing(*a):
        calls.append(a)
        if len(calls) > after:
            raise RuntimeError(f"crash in {step}")
        return real(*a)
    monkeypatch.setattr(statefs, step, crashing)


def _bucket_dirs(cur):
    return sorted(n for n in os.listdir(cur) if n.startswith("_bucket="))


def _four_buckets(spark, cur):
    """A four-bucket table of keys 0..31 committed as batch 0, and the
    pks per bucket."""
    rows = [(i, f"v{i}") for i in range(32)]
    assert commit_state(_b4(_df(spark, rows)), cur, 0, 4)
    by = {}
    for r in _b4(_df(spark, rows)).collect():
        by.setdefault(r._bucket, []).append(r.pk)
    assert _bucket_dirs(cur) == [f"_bucket={b}" for b in range(4)]
    return rows, by


def _delta(spark, cur, by):
    """Batch 1 as a three-bucket delta: buckets 0 and 2 get new values,
    bucket 1 is emptied (a hard delete)."""
    new = [(k, "new") for b in (0, 2) for k in by[b]]
    commit_state(_b4(_df(spark, new)), cur, 1, 4, touched=[0, 1, 2])


def _after_delta(by):
    return sorted([(k, "new") for b in (0, 2) for k in by[b]]
                  + [(k, f"v{k}") for k in by[3]])


def test_bucketed_commit_promotes_only_touched_buckets(
        spark, tmp_path, assert_only_current):
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    _, by = _four_buckets(spark, cur)
    assert assert_only_current(table, 0) == 4
    untouched = os.listdir(os.path.join(cur, "_bucket=3"))
    _delta(spark, cur, by)
    assert sorted(r[:2] for r in _rows(spark, cur)) == _after_delta(by)
    assert _bucket_dirs(cur) == ["_bucket=0", "_bucket=2", "_bucket=3"]
    assert os.listdir(os.path.join(cur, "_bucket=3")) == untouched
    assert assert_only_current(table, 1) == 4
    assert not commit_state(_b4(_df(spark, [(0, "x")])), cur, 1, 4,
                            touched=[0])


def test_crash_mid_bucket_promote_finishes_remaining_buckets(
        spark, tmp_path, monkeypatch, assert_only_current):
    """Crash after the delta's first data bucket was promoted: current
    mixes one post-batch bucket with pre-batch ones and keeps the old
    marker; recovery promotes the remaining buckets, removes the emptied
    one and moves the marker."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    _, by = _four_buckets(spark, cur)
    _crash(monkeypatch, "_move", after=1)
    with pytest.raises(RuntimeError):
        _delta(spark, cur, by)
    monkeypatch.undo()
    # the crash left a mix: one of buckets 0 and 2 is post-batch
    mixed = [r for r in _rows(spark, cur) if r[1] == "new"]
    assert len(mixed) in (len(by[0]), len(by[2]))
    assert [n for n in os.listdir(cur) if n.startswith("_batch_")] \
        == ["_batch_0"]
    assert committed_batch(cur) == 1
    assert sorted(r[:2] for r in _rows(spark, cur)) == _after_delta(by)
    assert assert_only_current(table, 1) == 4
    assert not os.path.exists(os.path.join(cur, "_bucket=1"))


def test_crash_before_bucket_promote_and_torn_delta(
        spark, tmp_path, monkeypatch, assert_only_current):
    """A complete delta that was never promoted is promoted whole; a
    torn one (no _SUCCESS) is dropped and its batch commits again."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    _, by = _four_buckets(spark, cur)
    _crash(monkeypatch, "_promote", after=0)
    with pytest.raises(RuntimeError):
        _delta(spark, cur, by)
    monkeypatch.undo()
    assert sorted(os.listdir(table)) == ["current", "v1"]
    assert committed_batch(cur) == 1
    assert sorted(r[:2] for r in _rows(spark, cur)) == _after_delta(by)
    assert assert_only_current(table, 1) == 4

    _crash(monkeypatch, "_promote", after=0)
    with pytest.raises(RuntimeError):
        commit_state(_b4(_df(spark, [(by[3][0], "torn")])), cur, 2, 4,
                     touched=[3])
    monkeypatch.undo()
    os.remove(os.path.join(table, "v2", "_SUCCESS"))
    assert committed_batch(cur) == 1
    assert sorted(r[:2] for r in _rows(spark, cur)) == _after_delta(by)
    assert assert_only_current(table, 1) == 4


def test_crash_across_bucket_count_change(spark, tmp_path, monkeypatch,
                                          assert_only_current):
    """A count change is a whole-table commit: a crash after current
    moved aside, or before the promote began, ends with the new count
    and the new rows, never a mix of the two hashings."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    rows, _ = _four_buckets(spark, cur)
    rows8 = rows + [(i, f"v{i}") for i in range(32, 40)]
    b8 = _df(spark, rows8).withColumn(
        "_bucket", F.pmod(F.xxhash64("pk"), F.lit(8)))
    _crash(monkeypatch, "_move", after=0)
    with pytest.raises(RuntimeError):
        commit_state(b8, cur, 1, 8)
    monkeypatch.undo()
    assert sorted(os.listdir(table)) == ["current.old", "v1"]
    assert committed_batch(cur) == 1
    assert sorted(r[:2] for r in _rows(spark, cur)) == sorted(rows8)
    assert assert_only_current(table, 1) == 8

    rows16 = rows8 + [(40, "v40")]
    b16 = _df(spark, rows16).withColumn(
        "_bucket", F.pmod(F.xxhash64("pk"), F.lit(16)))
    _crash(monkeypatch, "_promote", after=0)
    with pytest.raises(RuntimeError):
        commit_state(b16, cur, 2, 16)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(table, "v2", "_buckets_16"))
    assert committed_batch(cur) == 2
    assert sorted(r[:2] for r in _rows(spark, cur)) == sorted(rows16)
    assert assert_only_current(table, 2) == 16


def test_rewrite_at_own_batch_id_keeps_marker(spark, tmp_path, monkeypatch,
                                              assert_only_current):
    """batch_id None rewrites the applied state without moving its
    marker, on a marked table and on a seeded one; a crash before its
    promote is recovered like any other version."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    commit_state(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), cur, 4)
    assert commit_state(_df(spark, [(1, "a"), (2, "b")]), cur, None)
    assert _rows(spark, cur) == [(1, "a"), (2, "b")]
    assert_only_current(table, 4)
    _crash(monkeypatch, "_move", after=0)
    with pytest.raises(RuntimeError):
        commit_state(_df(spark, [(1, "a")]), cur, None)
    monkeypatch.undo()
    assert sorted(os.listdir(table)) == ["current.old", "v4"]
    assert committed_batch(cur) == 4
    assert _rows(spark, cur) == [(1, "a")]
    assert_only_current(table, 4)
    assert commit_state(_df(spark, [(1, "a"), (5, "e")]), cur, 5)

    seeded = str(tmp_path / "s" / "current")
    _df(spark, [(1, "snap"), (2, "snap")]).write.parquet(seeded)
    assert commit_state(_df(spark, [(1, "snap")]), seeded, None)
    assert committed_batch(seeded) == -1
    assert _rows(spark, seeded) == [(1, "snap")]
    # the stream's batch 0 still applies on top of the rewrite
    assert commit_state(_df(spark, [(1, "b0")]), seeded, 0)


def test_bucketed_rewrite_crash_keeps_marker_and_finishes(
        spark, tmp_path, monkeypatch, assert_only_current):
    """A hard delete on a bucketed table commits at the table's own
    batch id; a crash mid-promote (current still carries that very
    marker) is finished by recovery, not dropped as already applied."""
    table = str(tmp_path / "t")
    cur = os.path.join(table, "current")
    _, by = _four_buckets(spark, cur)
    kept = [(k, f"v{k}") for b in (0, 2) for k in by[b][1:]]
    _crash(monkeypatch, "_move", after=1)
    with pytest.raises(RuntimeError):
        commit_state(_b4(_df(spark, kept)), cur, None, 4, touched=[0, 2])
    monkeypatch.undo()
    assert committed_batch(cur) == 0
    assert sorted(r[:2] for r in _rows(spark, cur)) == sorted(
        kept + [(k, f"v{k}") for b in (1, 3) for k in by[b]])
    assert assert_only_current(table, 0) == 4


# Batch-delta logs: statefs.write_delta writes each batch's delta as its
# own ``_batch=<id>`` partition, whatever the session's overwrite mode.

def _log(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _files(path):
    """{relative data file path: mtime} of everything under ``path``."""
    return {os.path.relpath(os.path.join(d, n), path):
            os.path.getmtime(os.path.join(d, n))
            for d, _, names in os.walk(path) for n in names
            if n.endswith(".parquet")}


def test_write_delta_replay_replaces_only_its_own_batch(spark, tmp_path):
    log = str(tmp_path / "log")
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    statefs.write_delta(_df(spark, [(1, "a"), (2, "b")]), log, 0)
    statefs.write_delta(_df(spark, [(3, "c")]), log, 1)
    sibling = _files(os.path.join(log, "_batch=1"))
    statefs.write_delta(_df(spark, [(1, "a"), (2, "b")]), log, 0)
    assert _log(spark, log) == [(1, "a", 0), (2, "b", 0), (3, "c", 1)]
    statefs.write_delta(_df(spark, [(1, "a2")]), log, 0)
    assert _log(spark, log) == [(1, "a2", 0), (3, "c", 1)]
    assert _files(os.path.join(log, "_batch=1")) == sibling
    assert statefs.delta_batches(log) == [0, 1]
    assert spark.conf.get(key) == mode


def test_write_delta_extra_partition_column(spark, tmp_path):
    """With a second partition column a replay replaces the (batch,
    cell) partitions it writes; the same cell of another batch stays."""
    log = str(tmp_path / "cells")

    def cells(rows):
        return spark.createDataFrame(rows, "pk long, cell int")
    statefs.write_delta(cells([(1, 0), (2, 1)]), log, 0, "cell")
    statefs.write_delta(cells([(3, 0)]), log, 1, "cell")
    sibling = _files(os.path.join(log, "_batch=1"))
    statefs.write_delta(cells([(1, 0), (2, 1)]), log, 0, "cell")
    assert _log(spark, log) == [(1, 0, 0), (2, 0, 1), (3, 1, 0)]
    assert sorted(os.path.dirname(p) for p in _files(log)) == [
        "_batch=0/cell=0", "_batch=0/cell=1", "_batch=1/cell=0"]
    statefs.write_delta(cells([(4, 0), (2, 1)]), log, 0, "cell")
    assert _log(spark, log) == [(2, 0, 1), (3, 1, 0), (4, 0, 0)]
    assert _files(os.path.join(log, "_batch=1")) == sibling


def test_write_delta_empty_delta_writes_nothing(spark, tmp_path):
    """An empty delta creates no directory, and a replay whose delta is
    now empty keeps the batch's earlier partitions."""
    log = str(tmp_path / "log")
    statefs.write_delta(_df(spark, []), log, 0)
    assert not os.path.exists(log)
    assert statefs.delta_batches(log) == []
    statefs.write_delta(_df(spark, [(1, "a")]), log, 1)
    before = _files(log)
    statefs.write_delta(_df(spark, []), log, 1)
    statefs.write_delta(_df(spark, []), log, 2)
    assert _files(log) == before
    assert _log(spark, log) == [(1, "a", 1)]
