"""Streaming Bloom-filter maintenance: fold per-batch bitmap deltas as
keys stream in.  A Bloom bitmap is linear under OR, so the bit_or of
per-batch word deltas IS the filter of the union — the same
linear-sketch argument as streaming/cms.py, with bit_or in place of
sum.

Use case: a seen-before pre-filter in front of exact streaming dedup —
a definite "no" skips the state lookup entirely; a "maybe" falls
through to the exact path, so replay/duplication never corrupts
results (no false negatives; false positives only cost a lookup).

The per-batch deltas are a batch-delta log (statefs module
docstring, "Batch-delta logs").  Per batch the write is <= m/64 word
rows regardless of batch size; the fold reads m/64 x n_batches rows.

Positions are salted md5 (not xxhash64) so tests — and any
cross-engine audit, cf. sketch_bloom_fp_audit in plans/sketches.py —
can replay every bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from storagetapper_spark import statefs
from storagetapper_spark.operators.bloom import _MASKS, md5_positions

_M_BITS = 4096
_K = 3


def _positions(key: Column) -> list[Column]:
    return md5_positions(key, _M_BITS, _K)


def _batch_words(batch: DataFrame, key_col: str) -> DataFrame:
    """This batch's bitmap delta as (word_idx, word) rows."""
    pos = F.explode(F.array(*_positions(F.col(key_col)))).alias("pos")
    return (batch.select(pos)
            .select((F.col("pos") / 64).cast("int").alias("word_idx"),
                    F.element_at(F.lit(_MASKS),
                                 (F.col("pos") % 64).cast("int") + 1)
                    .alias("bit"))
            .groupBy("word_idx")
            .agg(F.bit_or("bit").alias("word")))


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int,
                 state_dir: str, key_col: str = "doc_id") -> None:
    """Write this batch's bitmap word delta (idempotent per id)."""
    statefs.write_delta(_batch_words(batch, key_col), state_dir, batch_id)


def current_filter(spark: SparkSession, state_dir: str) -> DataFrame:
    """The folded (word_idx, word) bitmap over all ingested batches."""
    return (spark.read.parquet(state_dir)
            .groupBy("word_idx").agg(F.bit_or("word").alias("word")))


def might_contain(filter_df: DataFrame, probes: DataFrame,
                  key_col: str = "doc_id") -> DataFrame:
    """Append a ``bloom_hit`` flag: true iff all k positions are set.
    The filter side is <= m/64 rows — broadcast; no false negatives.
    Probe keys are deduplicated BEFORE the position explode: a
    duplicated probe key would otherwise contribute 2k set-bit rows
    and fail the == k test — a false negative on exactly the
    duplicate-heavy input this pre-filter exists for."""
    keys = probes.select(key_col).distinct()
    pos = F.explode(F.array(*_positions(F.col(key_col)))).alias("pos")
    hits = (keys.select(key_col, pos)
            .select(key_col, "pos",
                    (F.col("pos") / 64).cast("int").alias("word_idx"),
                    F.element_at(F.lit(_MASKS),
                                 (F.col("pos") % 64).cast("int") + 1)
                    .alias("mask"))
            .join(F.broadcast(filter_df), "word_idx", "left")
            .select(key_col,
                    (F.coalesce(F.col("word"), F.lit(0))
                     .bitwiseAND(F.col("mask")) != 0).cast("int")
                    .alias("set_bit"))
            .groupBy(key_col)
            .agg((F.sum("set_bit") == _K).alias("bloom_hit")))
    return probes.join(hits, key_col, "left") \
                 .fillna(False, subset=["bloom_hit"])


def bloom_sink(state_dir: str, key_col: str = "doc_id"):
    """foreachBatch callback for a streaming key source."""
    def _sink(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(batch.sparkSession, batch, batch_id, state_dir,
                     key_col)
    return _sink
