import json
import os

import pytest

import gen
import layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
SPEC = gen.FeedSpec(batches=6, events_per_batch=40, hot_keys=3)
SCALE = gen.Scale(orders=50, customers=10, parts=5, suppliers=2, documents=20)


def test_tables_and_feed_are_deterministic_per_seed():
    a, b, c = (gen.tables(s, SCALE) for s in (7, 7, 8))
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert gen.feed(7, 50, SPEC) == gen.feed(7, 50, SPEC)
    assert gen.feed(7, 50, SPEC) != gen.feed(8, 50, SPEC)


def test_lineitem_primary_key_is_unique():
    li = gen.tables(3, SCALE)["lineitem"]
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()


def test_feed_has_the_event_mix():
    batches = gen.feed(11, 50, gen.FeedSpec(batches=20, events_per_batch=50))
    evs = [e for b in batches for e in b]
    seqnos = [e["seqno"] for e in evs]
    assert len(seqnos) > len(set(seqnos))  # stale redeliveries
    assert any(e["o_orderkey"] >= 50 for e in evs)  # new keys
    assert any(e["op"] == "delete" for e in evs)
    assert any(b != sorted(b, key=lambda e: e["seqno"]) for b in batches)
    by_seq = {e["seqno"]: e for e in evs}
    # every update is a delete then an insert of the same key
    pairs = [(by_seq[s], by_seq.get(s + 1)) for s in by_seq
             if by_seq[s]["op"] == "delete" and s + 1 in by_seq
             and by_seq[s + 1]["op"] == "insert"]
    assert pairs and all(d["o_orderkey"] == i["o_orderkey"]
                         for d, i in pairs if i["o_orderkey"] < 50)


def test_model_ignores_stale_events_and_keeps_tombstones():
    m = gen.FeedModel()
    m.apply({"o_orderkey": 1, "op": "insert", "seqno": -1, "v": 0})
    m.apply({"o_orderkey": 1, "op": "delete", "seqno": 5})
    m.apply({"o_orderkey": 1, "op": "insert", "seqno": 3, "v": 3})  # stale
    assert m.visible(1) is None
    m.apply({"o_orderkey": 1, "op": "insert", "seqno": 6, "v": 6})
    assert m.visible(1)["v"] == 6
    assert m.visible(2) is None


def test_benchmark_json_lists_the_layer_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["per_layer"] == layers.per_layer()
    names = [m["name"] for m in bench["per_layer"] + bench["end_to_end"]]
    assert len(names) == len(set(names))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield s
    s.stop()


def test_model_equals_snapshot_changelog_merge(spark):
    from storagetapper_spark.operators.merge import snapshot_changelog_merge

    orders = gen.tables(5, SCALE)["orders"]
    batches = gen.feed(5, len(orders), SPEC)
    model = gen.FeedModel()
    snap = gen.snapshot_events(orders)
    for ev in snap:
        model.apply(ev)
    for b in batches:
        for ev in b:
            model.apply(ev)
    cols = gen.STATE_COLS
    snap_df = spark.createDataFrame([tuple(e[c] for c in cols) for e in snap],
                                    _schema())
    log_df = spark.createDataFrame(
        [tuple(e[c] for c in cols) for b in batches for e in b], _schema())
    got = {tuple(r) for r in snapshot_changelog_merge(
        snap_df, log_df, ["o_orderkey"]).select(*cols).collect()}
    want = {tuple(e[c] for c in cols) for e in model.live_rows()}
    assert got == want


def _schema():
    from workloads import FEED_SCHEMA
    return FEED_SCHEMA
