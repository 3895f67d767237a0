"""gtid_guarded_upsert_sink: the resume scenario seqno idempotence
cannot survive — a restarted reader re-emits old transactions from new
file offsets, so their DERIVED seqnos are higher than the originals,
and max-seqno-wins alone would resurrect stale values.  The executed-
GTID-set guard drops redelivered transactions by position-independent
identity before the merge."""

import json
import os

from pyspark.sql import types as T

from storagetapper_spark.sources.gtid import GTIDSet
from storagetapper_spark.streaming.pipeline import (
    gtid_guarded_upsert_sink,
    read_changelog_stream,
    read_state,
)

U = "3e11fa47-71ca-11e1-9e33-c80aa9429562"

SCHEMA = T.StructType([
    T.StructField("pk", T.LongType()),
    T.StructField("val", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("seqno", T.LongType()),
    T.StructField("gtid", T.StringType()),
])


def _drop(path, name, events):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _run(spark, src, state, ckpt):
    q = gtid_guarded_upsert_sink(
        read_changelog_stream(spark, src, SCHEMA), state, ckpt,
        pk_cols=["pk"])
    q.awaitTermination(60)


def test_restart_with_reassigned_seqnos_does_not_resurrect(spark, tmp_path):
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))

    # run 1: transactions gtid 1-10; k1 written at gtid 5 then UPDATED
    # at gtid 9 — latest value is "new"
    _drop(src, "b1.json", [
        {"pk": 1, "val": "old", "op": "insert", "seqno": 5,
         "gtid": f"{U}:5"},
        {"pk": 1, "val": "new", "op": "insert", "seqno": 9,
         "gtid": f"{U}:9"},
    ] + [{"pk": 100 + g, "val": f"v{g}", "op": "insert", "seqno": g,
          "gtid": f"{U}:{g}"} for g in (1, 2, 3, 4, 6, 7, 8, 10)])
    _run(spark, src, state, ckpt)
    assert {r.pk: r.val for r in read_state(spark, state).collect()}[1] \
        == "new"
    saved = GTIDSet.parse(
        spark.read.parquet(os.path.join(state, "gtid_current"))
        .collect()[0]["executed_gtid_set"])
    assert saved.to_string() == f"{U}:1-10"

    # run 2 (reader restarted from an earlier binlog position): gtid 5
    # is RE-EMITTED with a new offset-derived seqno 105 — higher than
    # every run-1 seqno — plus a genuinely new transaction gtid 11.
    _drop(src, "b2.json", [
        {"pk": 1, "val": "old", "op": "insert", "seqno": 105,
         "gtid": f"{U}:5"},
        {"pk": 2, "val": "x", "op": "insert", "seqno": 111,
         "gtid": f"{U}:11"},
    ])
    _run(spark, src, state, ckpt)
    got = {r.pk: r.val for r in read_state(spark, state).collect()}
    # without the GTID guard, seqno 105 > 9 would flip pk=1 back to
    # "old"; the guard drops the redelivered transaction by identity
    assert got[1] == "new"
    assert got[2] == "x"
    saved = GTIDSet.parse(
        spark.read.parquet(os.path.join(state, "gtid_current"))
        .collect()[0]["executed_gtid_set"])
    assert saved.to_string() == f"{U}:1-11"


def test_full_redelivery_is_a_noop(spark, tmp_path):
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))
    rows = [{"pk": g, "val": f"v{g}", "op": "insert", "seqno": g,
             "gtid": f"{U}:{g}"} for g in range(1, 9)]
    _drop(src, "b1.json", rows)
    _run(spark, src, state, ckpt)
    before = sorted((r.pk, r.val) for r in
                    read_state(spark, state).collect())
    # entire batch redelivered with shifted seqnos
    _drop(src, "b2.json", [dict(r, seqno=r["seqno"] + 1000) for r in rows])
    _run(spark, src, state, ckpt)
    after = sorted((r.pk, r.val) for r in
                   read_state(spark, state).collect())
    assert after == before


def test_old_version_snapshots_are_gcd(spark, tmp_path, assert_only_current):
    """state_dir must stay O(state) on a long stream: each batch commits
    the state and then the GTID set once, and no v*/gtid_v* version
    survives its promotion to current/gtid_current."""
    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))
    _drop(src, "b1.json", [
        {"pk": 1, "val": "a", "op": "insert", "seqno": 1,
         "gtid": f"{U}:1"}])
    _run(spark, src, state, ckpt)
    _drop(src, "b2.json", [
        {"pk": 2, "val": "b", "op": "insert", "seqno": 2,
         "gtid": f"{U}:2"}])
    _run(spark, src, state, ckpt)
    assert_only_current(state, 1, others=["gtid_current"])
    assert "_batch_1" in os.listdir(os.path.join(state, "gtid_current"))
    got = {r.pk: r.val for r in read_state(spark, state).collect()}
    assert got == {1: "a", 2: "b"}


def test_empty_gtid_current_raises_instead_of_resetting(spark, tmp_path):
    """A crash mid-write can leave gtid_current row-less; silently
    treating that as an empty set would re-enable the stale-seqno
    resurrection the sink exists to prevent — the batch must fail
    loudly so the operator restores from the gtid_v* snapshot."""
    import pytest

    src, state, ckpt = (str(tmp_path / d) for d in ("feed", "st", "ck"))
    _drop(src, "b1.json", [
        {"pk": 1, "val": "a", "op": "insert", "seqno": 1,
         "gtid": f"{U}:1"}])
    _run(spark, src, state, ckpt)
    # simulate the torn write: gtid_current exists but holds no row
    spark.createDataFrame([], "executed_gtid_set string") \
        .write.mode("overwrite") \
        .parquet(os.path.join(state, "gtid_current"))
    _drop(src, "b2.json", [
        {"pk": 2, "val": "b", "op": "insert", "seqno": 2,
         "gtid": f"{U}:2"}])
    with pytest.raises(Exception, match="holds no row"):
        _run(spark, src, state, ckpt)
