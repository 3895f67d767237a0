"""Graph primitives over edge DataFrames: ``pin`` / ``release`` /
``iterate`` (the one materialize-and-release rule), ``symmetrize``
(both orientations of an edge list in one read) and ``pagerank``.

The rule.  A table that one later action reads from several subtrees,
or that an iterative loop reads across rounds, is materialized by ONE
job into a truncated plan and freed as soon as nothing reads it:

- ``pin(df)`` is ``df.localCheckpoint(eager=True)``: one job, the plan
  is cut at the pin, and the Spark cache manager holds no entry for it.
  Only the RETURNED frame is materialized, so every reader reads it.
- ``release(*pinned)`` frees pins now.  ``DataFrame.unpersist()`` and
  ``spark.catalog.clearCache()`` never free checkpoint blocks; only
  the checkpointed RDD's own unpersist does.  A released pin cannot be
  read again.
- ``iterate(seed, step, rounds, until)`` is the ladder: every
  generation is checkpointed and materialized by one action (``until``
  when given, else the pin), and the generation it supersedes is
  released.  A lazy generation read twice per round would re-derive
  the whole k-deep lineage (~2^k plans), and persist() never truncates
  a plan, so no ladder keeps a lazy or persisted generation.

A pin the returned (lazy) result still reads stays until that result
is garbage-collected; everything else is released by its site.

pagerank() complements operators/dedup.connected_components
(min-label propagation): link-analysis scoring for quality weighting
(the web-corpus analog: rank pages/domains by citation structure
before sampling training data).  The edge list is the ONLY thing that
shuffles; each iteration is one join + one aggregate.  At 100 TB the
edge table is bucketed by src so every iteration's join is
co-partitioned.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` with one job and return the pinned frame (an
    eager local checkpoint; see the module rule).  Read the returned
    frame, never ``df``; free it with :func:`release`."""
    return df.localCheckpoint(eager=True)


def release(*pinned: DataFrame) -> None:
    """Free the checkpoint blocks of frames returned by :func:`pin` or
    :func:`iterate`.  Raises ValueError, before freeing anything, on a
    frame that is not a live pin (a derived frame, a persisted one, or
    a pin already released)."""
    plans = [df._jdf.queryExecution().analyzed() for df in pinned]
    for plan in plans:
        if (plan.nodeName() != "LogicalRDD"
                or not plan.rdd().getStorageLevel().isValid()):
            raise ValueError(f"not a live pin: {plan.nodeName()}")
    for plan in plans:
        plan.rdd().unpersist(False)


def iterate(seed: DataFrame, step: Callable[[DataFrame], DataFrame],
            rounds: int,
            until: Callable[[DataFrame], Any] | None = None) -> DataFrame:
    """Up to ``rounds`` applications of ``step`` from ``seed`` → the last
    generation, pinned and owned by the caller.

    Generation 0 is ``seed`` itself.  Each generation is checkpointed and
    materialized by ONE action: ``until(generation)`` when given (it must
    read every row, e.g. a count or a sum; its value is the convergence
    scalar), otherwise the pin's own job.  Once a generation is
    materialized its predecessor is released.  With ``until`` the ladder
    stops early when a generation's value equals its predecessor's."""
    eager = until is None
    gen = seed.localCheckpoint(eager=eager)
    last = until(gen) if until else None
    for _ in range(rounds):
        nxt = step(gen).localCheckpoint(eager=eager)
        value = until(nxt) if until else None
        release(gen)
        gen = nxt
        if until and value == last:
            break
        last = value
    return gen


def symmetrize(edges: DataFrame, a: str, b: str, *carry: str) -> DataFrame:
    """Both orientations of every edge → (a, b, *carry): each input row
    once as-is and once with ``a``/``b`` swapped, ``carry`` columns
    copied onto both.

    ONE explode over a two-struct array, emitted map-side: the input is
    read once.  The self-union form it replaces referenced its input
    twice, so an unpersisted edge subtree (e.g. a pair-build aggregate)
    evaluated twice per action even when ReuseExchange shared the
    shuffle underneath."""
    kept = [F.col(c) for c in carry]
    fwd = F.struct(F.col(a).alias(a), F.col(b).alias(b), *kept)
    rev = F.struct(F.col(b).alias(a), F.col(a).alias(b), *kept)
    return (edges.select(F.explode(F.array(fwd, rev)).alias("_e"))
            .select("_e.*"))


def pagerank(edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
             iterations: int = 5, damping: float = 0.85,
             directed: bool = False, dedup: bool = True,
             scaled: bool = False,
             weight_col: str | None = None,
             personalization: DataFrame | None = None) -> DataFrame:
    """PageRank over an edge list → (node, pr).

    ``directed=False`` (default) symmetrizes the edges first, which
    guarantees every node has out-degree ≥ 1 — no dangling-mass
    redistribution term needed.  Fixed ``iterations`` (not
    convergence-tested) keeps the result deterministic and
    oracle-checkable; 5 rounds is within ~1% of the fixed point on
    small-diameter co-occurrence graphs.

    ``dedup=False`` skips the symmetrized-edge distinct — pass it when
    the caller guarantees uniqueness (e.g. distinct pairs with a
    strict a<b orientation, whose two mirrored directions cannot
    collide).  That elides a full shuffle of the edge list.

    The iteration style follows from ``directed``, by the rule that a
    lazy generation is safe only when it is read once:

    - undirected: a round reads the previous rank generation once, so
      all rounds form ONE lazy plan — Catalyst plans once, the rank
      side of every round is a chained broadcast join against the one
      pinned adjacency, and no per-generation action pays scheduler
      overhead (measured 5.3 s vs 8.0 s eager at sf0.1, 5 rounds);
    - directed: a round reads it twice (link contributions and the
      dangling-mass aggregate), so a lazy plan would double per round;
      the rounds run on :func:`iterate`.

    ``scaled=True`` multiplies pr by the node count before returning
    (≈1.0 under a uniform distribution) — done here because only the
    operator knows n without forcing callers to recount the lineage.

    ``weight_col`` names an edge-weight column: contributions become
    pr·w/strength(src) (strength = Σ out-weights) — co-occurrence
    counts, affinity scores, etc.

    ``personalization`` is a (node, p0) DataFrame for PERSONALIZED
    PageRank: the restart mass (1−d) lands on p0 (normalized here)
    instead of uniformly — the recommendation/seed-expansion form.
    Nodes outside the seed set start at 0 and only earn rank through
    link mass.  It must be small (it broadcasts into every iteration).

    Returns pr at full precision — callers round at the boundary.
    """
    w = [weight_col] if weight_col else []
    if not directed:
        edges = symmetrize(edges, a_col, b_col, *w)
    sym = edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"),
                       *[F.col(c).cast("double").alias("w") for c in w])
    if dedup:
        sym = sym.distinct()
    if not weight_col:
        sym = sym.withColumn("w", F.lit(1.0))
    # out-strength folded onto each edge once, outside the loop, so the
    # loop joins rank → edge on src only.  A window sum reads sym once
    # (a join to its own groupBy read it twice); exact, since weights
    # are integer-valued doubles.
    adj = pin(sym.withColumn(
        "out_w", F.sum("w").over(Window.partitionBy("src"))))
    if directed:
        # the node set must include pure SINKS (dst-only nodes): they
        # hold rank, receive link mass, and their dangling mass is
        # redistributed each round (ADVICE r3)
        nodes = pin(symmetrize(adj, "src", "dst").select("src").distinct())
        n_nodes = nodes.count()
        sinks = pin(nodes.join(adj.select("src").distinct(),
                               "src", "left_anti"))
    else:
        # symmetrized edges: src covers every node, no sinks exist
        nodes = adj.select("src").distinct()
        sinks = None
        # unscaled personalized mode never reads n_nodes
        n_nodes = (nodes.count() if personalization is None or scaled
                   else None)

    if personalization is not None:
        p0 = personalization.select(F.col(personalization.columns[0])
                                    .alias("node"),
                                    F.col(personalization.columns[1])
                                    .cast("double").alias("p0"))
        tot = p0.agg(F.sum("p0").alias("t")).collect()[0].t
        p0 = F.broadcast(p0.select(
            "node", (F.col("p0") / F.lit(float(tot))).alias("p0")))
        ranks = (nodes.join(p0, nodes.src == p0.node, "left")
                 .select(F.col("src").alias("node"),
                         F.coalesce("p0", F.lit(0.0)).alias("pr")))
        restart = F.lit(1.0 - damping) * F.coalesce(F.col("p0"), F.lit(0.0))
    else:
        p0 = None
        ranks = nodes.select(F.col("src").alias("node"),
                             F.lit(1.0 / n_nodes).alias("pr"))
        restart = F.lit((1.0 - damping) / n_nodes)

    def step(ranks: DataFrame) -> DataFrame:
        contribs = (adj.join(ranks, adj.src == ranks.node)
                    .select("dst", (F.col("pr") * F.col("w")
                                    / F.col("out_w")).alias("contrib")))
        summed = (contribs.groupBy("dst")
                  .agg((F.lit(damping) * F.sum("contrib")).alias("_link")))
        if sinks is None:
            # undirected: every node has an in-edge, so summed already
            # covers every node and there is no dangling term
            new_ranks = summed if p0 is None else summed.join(
                p0, summed.dst == p0.node, "left")
            return new_ranks.select(
                F.col("dst").alias("node"),
                (restart + F.col("_link")).alias("pr"))
        # directed: dangling mass (rank on out-degree-0 nodes this round,
        # ONE scalar collected off the pinned generation) is spread
        # uniformly, or back onto the personalization vector
        dm = (ranks.join(sinks, ranks.node == sinks.src)
              .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dm"))
              .collect()[0]._dm)
        new_ranks = nodes.join(summed, nodes.src == summed.dst, "left")
        if p0 is None:
            dangling = F.lit(damping * dm / n_nodes)
        else:
            new_ranks = new_ranks.join(p0, nodes.src == p0.node, "left")
            dangling = F.lit(damping * dm) * F.coalesce("p0", F.lit(0.0))
        return new_ranks.select(
            F.col("src").alias("node"),
            (restart + F.coalesce("_link", F.lit(0.0)) + dangling)
            .alias("pr"))

    if directed:
        ranks = iterate(ranks, step, iterations)
        release(adj, nodes, sinks)
    else:
        # adj stays pinned for the caller's one action
        for _ in range(iterations):
            ranks = step(ranks)
    if scaled:
        ranks = ranks.select("node",
                             (F.col("pr") * F.lit(float(n_nodes)))
                             .alias("pr"))
    return ranks
