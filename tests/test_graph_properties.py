"""Property-based invariants of operators/graph.pagerank over RANDOM
edge lists (hypothesis drives the graph; a pure-Python power-iteration
reference checks the values).  Few examples — each runs Spark jobs."""

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from storagetapper_spark.operators.graph import pagerank

# random undirected edge lists over a small node universe; self-loops
# excluded (a<b) and duplicates allowed (dedup=True must collapse them)
edge_lists = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
        lambda p: p[0] != p[1]).map(lambda p: (min(p), max(p))),
    min_size=1, max_size=16)


def _reference_pagerank(edges, iterations, damping=0.85):
    sym = set()
    for a, b in edges:
        sym.add((a, b))
        sym.add((b, a))
    nodes = sorted({s for s, _ in sym})
    out = {n: sum(1 for s, _ in sym if s == n) for n in nodes}
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        nxt = {}
        for v in nodes:
            acc = sum(pr[s] / out[s] for s, d in sym if d == v)
            nxt[v] = (1.0 - damping) / n + damping * acc
        pr = nxt
    return pr


@given(edge_lists, st.integers(1, 4))
@settings(max_examples=8, deadline=None)
def test_pagerank_matches_reference_model(spark, edges, iters):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.node: r.pr for r in
           pagerank(df, iterations=iters).collect()}
    want = _reference_pagerank(edges, iters)
    assert got.keys() == want.keys()
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9)


@given(edge_lists)
@settings(max_examples=6, deadline=None)
def test_pagerank_mass_conserved_random(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = pagerank(df, iterations=3).collect()
    assert math.isclose(sum(r.pr for r in out), 1.0, rel_tol=1e-9)
    assert all(r.pr > 0 for r in out)
