"""Streaming corpus curation (streaming/curation.py).

Contracts under test:
- cross-batch dedup: a doc accepted in batch 1 never re-enters from a
  later batch, even via a different doc_id;
- per-stage attrition counts match the batch curation_funnel semantics;
- replay idempotence: re-running a batch (fresh checkpoint, same data)
  leaves the curated store unchanged;
- accumulation equivalence: N batches streamed == one batch of the
  union, modulo which duplicate wins (first-arrival vs global-min id).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from storagetapper_spark.streaming.curation import curate_batch

GOOD = "the quick brown fox jumps over the lazy dog again and again"
SHORT = "too short"


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string")


def test_gate_dedup_and_cross_batch(spark, tmp_path):
    root = str(tmp_path / "cur")
    b1 = _docs(spark, [
        (1, GOOD, "en"),
        (2, GOOD, "en"),          # in-batch dup of 1
        (3, SHORT, "en"),         # fails length gate
        (4, GOOD + " one", "de"),  # fails lang gate
    ])
    s1 = curate_batch(spark, b1, 0, root)
    assert (s1["n_in"], s1["n_gated"], s1["n_accepted"]) == (4, 1, 1)

    b2 = _docs(spark, [
        (9, GOOD, "en"),           # cross-batch dup (different doc_id)
        (10, GOOD + " two", "en"),  # genuinely new
    ])
    s2 = curate_batch(spark, b2, 1, root)
    assert (s2["n_in"], s2["n_gated"], s2["n_accepted"]) == (2, 2, 1)

    curated = spark.read.parquet(f"{root}/curated")
    assert sorted(r.doc_id for r in curated.collect()) == [1, 10]


def test_replay_idempotent(spark, tmp_path):
    root = str(tmp_path / "cur")
    b1 = _docs(spark, [(1, GOOD, "en"), (5, GOOD + " xx", "en")])
    curate_batch(spark, b1, 0, root)
    before = sorted(
        (r.doc_id, r.h) for r in
        spark.read.parquet(f"{root}/curated").select("doc_id", "h").collect())
    # at-least-once replay of the same batch id
    replay_stats = curate_batch(spark, b1, 0, root)
    assert replay_stats["n_accepted"] == 0
    after = sorted(
        (r.doc_id, r.h) for r in
        spark.read.parquet(f"{root}/curated").select("doc_id", "h").collect())
    assert before == after


def test_batch_that_accepts_nothing_leaves_no_state(spark, tmp_path):
    """A first batch whose every doc fails the gate writes no state, so
    the next batch curates instead of reading an empty log."""
    root = str(tmp_path / "cur")
    s0 = curate_batch(spark, _docs(spark, [(1, SHORT, "en")]), 0, root)
    assert s0["n_accepted"] == 0
    s1 = curate_batch(spark, _docs(spark, [(2, GOOD, "en")]), 1, root)
    assert s1["n_accepted"] == 1
    curated = spark.read.parquet(f"{root}/curated")
    assert [r.doc_id for r in curated.collect()] == [2]


def test_stream_accumulation_equals_one_shot(spark, tmp_path):
    rows = [(i, f"{GOOD} doc {i % 7}", "en") for i in range(30)]
    # streamed in 3 batches
    root_s = str(tmp_path / "streamed")
    for bid in range(3):
        curate_batch(spark, _docs(spark, rows[bid * 10:(bid + 1) * 10]),
                     bid, root_s)
    streamed = spark.read.parquet(f"{root_s}/curated")
    # one shot
    root_o = str(tmp_path / "oneshot")
    curate_batch(spark, _docs(spark, rows), 0, root_o)
    oneshot = spark.read.parquet(f"{root_o}/curated")
    # same accepted CONTENT set; winner ids agree because batches arrive
    # in doc_id order here
    assert (sorted(r.h for r in streamed.select("h").collect())
            == sorted(r.h for r in oneshot.select("h").collect()))
    assert (sorted(r.doc_id for r in streamed.collect())
            == sorted(r.doc_id for r in oneshot.collect()))


def test_available_now_stream(spark, tmp_path):
    """End-to-end through a real Structured Streaming query."""
    from storagetapper_spark.streaming.curation import run_curation_stream

    src_dir = str(tmp_path / "src")
    _docs(spark, [(i, f"{GOOD} v{i % 3}", "en") for i in range(12)]) \
        .write.parquet(src_dir)
    source = (spark.readStream
              .schema("doc_id long, text string, lang string")
              .option("maxFilesPerTrigger", 1)
              .parquet(src_dir))
    root = str(tmp_path / "out")
    q, stats = run_curation_stream(
        spark, source, root, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    curated = spark.read.parquet(f"{root}/curated")
    # 3 distinct contents → exactly 3 accepted across all micro-batches
    assert curated.count() == 3
    assert sum(s["n_accepted"] for s in stats) == 3


def test_contamination_gate(spark, tmp_path):
    """A doc sharing most of its shingles with the benchmark is
    rejected; clean docs pass."""
    root = str(tmp_path / "cur")
    bench = _docs(spark, [(900, GOOD, "en")]).select("doc_id", "text")
    batch = _docs(spark, [
        (1, GOOD + " tail", "en"),                        # near-copy → reject
        (2, "completely different words " * 4, "en"),     # clean → accept
    ])
    stats = curate_batch(spark, batch, 0, root, benchmark=bench)
    assert stats["n_accepted"] == 1
    kept = spark.read.parquet(f"{root}/curated")
    assert [r.doc_id for r in kept.collect()] == [2]
