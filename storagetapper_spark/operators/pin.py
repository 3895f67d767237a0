"""The one materialize-and-release rule of the package: ``pin`` /
``release`` / ``iterate``.  Nothing else in ``storagetapper_spark``
persists, caches or checkpoints a frame.

A table that one later action reads from several subtrees, that
several actions read, or that an iterative loop reads across rounds, is
materialized by ONE job into a truncated plan and freed as soon as
nothing reads it.  A table read once is not materialized at all.

- ``pin(df)`` is ``df.localCheckpoint(eager=True)``: one job, the plan
  is cut at the pin, and the Spark cache manager holds no entry for it.
  Only the RETURNED frame is materialized, so every reader reads it.
  Its plan no longer reads the source files either, so a pin also
  serves a frame that must outlive a query over corrupt-record columns
  (SPARK-21610).
- ``release(*pinned)`` frees pins now.  ``DataFrame.unpersist()`` and
  ``spark.catalog.clearCache()`` never free checkpoint blocks; only
  the checkpointed RDD's own unpersist does.  A released pin cannot be
  read again.  A frame pinned inside a function (a micro-batch body
  included) is released before that function returns, unless the
  function returns it or a lazy frame that reads it.
- ``iterate(seed, step, rounds, until)`` is the ladder: every
  generation is checkpointed and materialized by one action (``until``
  when given, else the pin), and the generation it supersedes is
  released.  A lazy generation read twice per round would re-derive
  the whole k-deep lineage (~2^k plans), and persist() never truncates
  a plan, so no ladder keeps a lazy or persisted generation.

A pin the returned (lazy) result still reads stays until that result
is garbage-collected; everything else is released by its site.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` with one job and return the pinned frame (an
    eager local checkpoint; see the module rule).  Read the returned
    frame, never ``df``; free it with :func:`release`."""
    return df.localCheckpoint(eager=True)


def require_pinned(*frames: DataFrame) -> list:
    """The analyzed plans of ``frames``; raises ValueError on a frame
    that is not a live pin (a derived frame, a persisted one, or a pin
    already released)."""
    plans = [df._jdf.queryExecution().analyzed() for df in frames]
    for plan in plans:
        if (plan.nodeName() != "LogicalRDD"
                or not plan.rdd().getStorageLevel().isValid()):
            raise ValueError(f"not a live pin: {plan.nodeName()}")
    return plans


def release(*pinned: DataFrame) -> None:
    """Free the checkpoint blocks of frames returned by :func:`pin` or
    :func:`iterate`.  Raises ValueError, before freeing anything, on a
    frame that is not a live pin."""
    for plan in require_pinned(*pinned):
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
    gen = seed.localCheckpoint(eager=until is None)
    last = until(gen) if until else None
    for _ in range(rounds):
        nxt = step(gen).localCheckpoint(eager=until is None)
        value = until(nxt) if until else None
        release(gen)
        gen = nxt
        if until and value == last:
            break
        last = value
    return gen
