"""The upsert sinks merge a micro-batch with ONE max-seqno window over
``current ∪ raw batch``.  That is only sound because max-seqno-wins is
associative: resolving the batch on its own first (the former
two-window form) must change nothing.  Property: on any feed — deletes,
update pairs (delete + insert at consecutive seqnos), same-seqno ties
on both ``op`` values, stale redeliveries, out-of-order seqnos, hot
keys — both forms return the same rows, and both equal a plain Python
max-(seqno, op) model.

Events are identified by (pk, seqno, op) and carry a value derived from
that identity, so a redelivery is an exact copy: the only ties the
window may break arbitrarily are between identical rows."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from storagetapper_spark.operators.merge import latest_state

PK = ["pk"]
SCHEMA = "pk long, val string, op string, seqno long"


def _event(pk, seqno, op):
    return (pk, None if op == "delete" else f"{pk}@{seqno}", op, seqno)


# few keys → hot keys; small seqno range → ties and stale redeliveries
_ident = st.tuples(st.integers(0, 4), st.integers(-1, 12),
                   st.sampled_from(["insert", "delete"]))


@st.composite
def feeds(draw):
    """(current state rows, raw batch rows)."""
    history = [_event(*e) for e in draw(st.lists(_ident, max_size=12))]
    batch = [_event(*e) for e in draw(st.lists(_ident, max_size=16))]
    # update pairs: delete then insert of one key at consecutive seqnos
    for pk, s in draw(st.lists(st.tuples(st.integers(0, 4),
                                         st.integers(0, 11)), max_size=3)):
        batch += [_event(pk, s, "delete"), _event(pk, s + 1, "insert")]
    # same-seqno ties on both op values
    for pk, s in draw(st.lists(st.tuples(st.integers(0, 4),
                                         st.integers(0, 12)), max_size=2)):
        batch += [_event(pk, s, "insert"), _event(pk, s, "delete")]
    # stale redeliveries of already-applied events, then any order
    if history:
        batch += draw(st.lists(st.sampled_from(history), max_size=4))
    batch = draw(st.permutations(batch))
    return _model(history), batch


def _model(rows):
    best = {}
    for r in rows:
        if r[0] not in best or (r[3], r[2]) > (best[r[0]][3], best[r[0]][2]):
            best[r[0]] = r
    return list(best.values())


def _sorted(rows):
    return sorted(tuple(r) for r in rows)


def _shift(rows, k):
    return [(pk + 10 * k, val, op, seqno) for pk, val, op, seqno in rows]


# each example packs many independent feeds (disjoint key ranges) into
# one pair of frames, so a few Spark jobs check hundreds of feeds
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(packed=st.lists(feeds(), min_size=1, max_size=60))
def test_one_window_equals_two_step_resolve(spark, packed):
    state = [r for k, (s, _) in enumerate(packed) for r in _shift(s, k)]
    batch = [r for k, (_, b) in enumerate(packed) for r in _shift(b, k)]
    cur = spark.createDataFrame(state, SCHEMA)
    raw = spark.createDataFrame(batch, SCHEMA)
    resolved = latest_state(raw, PK, drop_deleted=False)
    two_step = latest_state(cur.unionByName(resolved), PK,
                            drop_deleted=False)
    one_window = latest_state(cur.unionByName(raw), PK, drop_deleted=False)
    got = (one_window.withColumn("form", F.lit(1))
           .unionByName(two_step.withColumn("form", F.lit(2))).collect())
    want = _sorted(_model(state + batch))
    for form in (1, 2):
        assert _sorted(r[:4] for r in got if r.form == form) == want, form
