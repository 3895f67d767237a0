"""operators/graph: pagerank's two iteration styles and known-graph
sanity, symmetrize's row multiset and single read."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from storagetapper_spark.operators.graph import pagerank, symmetrize


@pytest.fixture(scope="module")
def star_edges(spark):
    # hub 0 connected to 1..5, plus a 6-7 appendage pair
    rows = [(0, i) for i in range(1, 6)] + [(6, 7)]
    return spark.createDataFrame(rows, ["id_a", "id_b"])


def test_lazy_undirected_agrees_with_eager_directed(spark, star_edges):
    """The undirected run iterates as one lazy plan, the directed run
    pins every generation; over the explicitly symmetrized edges (no
    sinks, so no dangling term) both compute the same ranks."""
    lazy = {r.node: r.pr for r in
            pagerank(star_edges, iterations=4).collect()}
    both = symmetrize(star_edges, "id_a", "id_b")
    eager = {r.node: r.pr for r in
             pagerank(both, iterations=4, directed=True).collect()}
    assert lazy.keys() == eager.keys()
    for k in lazy:
        assert math.isclose(lazy[k], eager[k], rel_tol=1e-12)


def test_rank_mass_conserved(spark, star_edges):
    out = pagerank(star_edges, iterations=6).collect()
    assert math.isclose(sum(r.pr for r in out), 1.0, rel_tol=1e-9)


def test_hub_outranks_leaves(spark, star_edges):
    pr = {r.node: r.pr for r in pagerank(star_edges, iterations=6).collect()}
    assert pr[0] > pr[1]                      # hub beats its leaves
    assert math.isclose(pr[6], pr[7], rel_tol=1e-12)  # symmetric pair
    leaves = [pr[i] for i in range(1, 6)]
    assert max(leaves) - min(leaves) < 1e-12  # leaves are interchangeable


def test_scaled_mean_is_one(spark, star_edges):
    out = pagerank(star_edges, iterations=3, scaled=True).collect()
    assert math.isclose(sum(r.pr for r in out) / len(out), 1.0, rel_tol=1e-9)


def test_dedup_false_requires_unique_edges(spark):
    # duplicate edge doubles the weight: dedup=True collapses it
    dup = spark.createDataFrame([(1, 2), (1, 2), (2, 3)], ["id_a", "id_b"])
    with_dedup = {r.node: r.pr for r in
                  pagerank(dup, iterations=3, dedup=True).collect()}
    uniq = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    baseline = {r.node: r.pr for r in
                pagerank(uniq, iterations=3, dedup=False).collect()}
    for k in baseline:
        assert math.isclose(with_dedup[k], baseline[k], rel_tol=1e-12)


def test_directed_pagerank_keeps_sources_sinks_and_mass(spark):
    """ADVICE r3: directed mode used to drop no-in-edge nodes after
    iteration 1 (losing their restart mass and out-contributions),
    exclude pure sinks from the node set, and never redistribute
    dangling mass.  On a chain-with-sink graph a→b→c, d→c: all four
    nodes must appear every iteration and Σpr must stay 1."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "c")], "id_a string, id_b string")
    out = {r.node: r.pr for r in pagerank(
        edges, iterations=5, directed=True).collect()}
    assert set(out) == {"a", "b", "c", "d"}, out
    assert abs(sum(out.values()) - 1.0) < 1e-9
    # sources keep exactly the restart share (+ uniform dangling)
    assert out["a"] == out["d"]
    # the sink accumulates the most mass
    assert out["c"] == max(out.values())


def test_directed_personalized_pagerank_conserves_mass(spark):
    """Personalized directed: dangling mass restarts on the seed set;
    Σpr stays 1 and off-seed sources hold zero rank."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string")
    seed = spark.createDataFrame([("a", 1.0)], "node string, p0 double")
    out = {r.node: r.pr for r in pagerank(
        edges, iterations=8, directed=True,
        personalization=seed).collect()}
    assert set(out) == {"a", "b", "c"}
    assert abs(sum(out.values()) - 1.0) < 1e-9
    assert out["a"] > out["b"] > 0 and out["c"] > 0


def test_symmetrize_emits_both_orientations_with_carried_columns(spark):
    rows = [(1, 2, 5, "x"), (1, 2, 5, "x"), (3, 1, 7, "y"), (4, 4, 1, "z")]
    edges = spark.createDataFrame(rows, "a long, b long, w long, tag string")
    out = symmetrize(edges, "a", "b", "w")
    assert out.columns == ["a", "b", "w"]
    want = Counter()
    for a, b, w, _ in rows:
        want[(a, b, w)] += 1
        want[(b, a, w)] += 1
    assert Counter(tuple(r) for r in out.collect()) == want


def test_symmetrize_scans_an_unpersisted_input_once(spark):
    # an aggregate input, not persisted: a self-union would plan the
    # Range scan and its aggregate twice
    edges = (spark.range(40).select((F.col("id") % 7).alias("a"),
                                    (F.col("id") % 5).alias("b"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n")))
    plan = (symmetrize(edges, "a", "b", "n")
            ._jdf.queryExecution().optimizedPlan().toString())
    assert plan.count("Range (") == 1, plan
    assert plan.count("Aggregate [") == 1, plan


def _cached_plans(df):
    """Initial physical plan of every cached table ``df`` reads (an
    adaptive plan prints its final plan above the initial one)."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    return [leaves.apply(i).cachedPlan().toString()
            .split("== Initial Plan ==")[-1]
            for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "InMemoryRelation"]


def test_pagerank_adjacency_reads_the_edge_input_once(spark):
    """The persisted adjacency (edge + out-strength) evaluates an
    unpersisted pair aggregate once: the out-strength is a window over
    the edges, not a join back to their own groupBy."""
    pairs = (spark.range(60).select((F.col("id") % 9).alias("id_a"),
                                    (F.col("id") % 9 + 1 + F.col("id") % 4)
                                    .alias("id_b"))
             .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("w")))
    spark.catalog.clearCache()
    ranks = pagerank(pairs, iterations=2, dedup=False, weight_col="w")
    adj = [p for p in _cached_plans(ranks) if "out_w" in p]
    assert adj, _cached_plans(ranks)
    for plan in adj:
        assert plan.count("Range (") == 1, plan
    spark.catalog.clearCache()
