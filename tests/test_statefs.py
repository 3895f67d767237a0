"""statefs.commit_state / committed_batch: the state-table commit
protocol every stateful foreachBatch sink shares.  Each crash window is
rebuilt on disk by hand — a complete or incomplete version with or
without ``current`` — and the next call must leave ``current`` holding
a whole state (never empty or partial) and the directory holding only
``current``."""

import os
import shutil

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
